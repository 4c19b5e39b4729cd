package graft.dedup

import graft.{Bounded, Cut, Tables, U}
import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over the `documents` / `embeddings` tables —
  * SURVEY.md §2 B.6 (`dedup_exact`, `dedup_minhash`, + SimHash / n-gram
  * Jaccard / embedding-cosine variants mandated by the north star).
  *
  * Scale shapes:
  *  - exact dedup = one hash-partitioned groupBy on the text hash
  *    (group by the 128-bit digest, never the full text, so the shuffle
  *    carries 16 bytes + ids, not documents);
  *  - MinHash/LSH = signatures computed in one codegen'd scan (no UDF),
  *    banded into (band, band_hash) buckets, candidate pairs only within
  *    buckets, verified with exact Jaccard — O(n·K) + bucket-local pairs
  *    instead of O(n²); oversized buckets (degenerate/stopword-heavy
  *    shingle sets) are dropped by a count guard, which also caps skew;
  *  - SimHash = 64-bit signature per doc in one scan; near-dups are
  *    Hamming-close signatures (bit_count(xor));
  *  - embedding near-dup = sign-bit LSH buckets then exact cosine within
  *    bucket (same hyperplanes as graft.similarity).
  */
object Dedup {
  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** Distinct lower-cased word set — the shingle unit for set-similarity
    * ops here (documents in this corpus are word-order permutations, so
    * word-set Jaccard is the discriminative signal; swap in
    * `wordKShingles` for positional n-grams). */
  def wordSet(text: Column): Column = array_distinct(split(lower(text), " "))

  /** Positional k-word shingles (n-gram Jaccard flavor) — the fused
    * codegen expression (plans.WordKGrams); identical to the HOF
    * composition `array_distinct(transform(sequence, i -> array_join(
    * slice(words, i+1, k))))` with the `< k words → one gram` fallback,
    * which evaluated interpreted (parity pinned in DedupSpec /
    * PropertySpec), on every NON-NULL text. One DELIBERATE difference:
    * NULL text yields NULL (the doc contributes no grams downstream) —
    * the HOF form produced the single-element array [NULL], i.e. a
    * phantom null-gram row after explode. Pinned in DedupSpec. */
  def wordKShingles(text: Column, k: Int): Column =
    call_function("word_kgrams", split(lower(text), " "), lit(k))

  /** K minhashes of a shingle-set column: h_j = min over shingles of
    * xxhash64(shingle, j). Compact HOF form — the reference the fused
    * [[minhashSignaturesFused]] is pinned against in DedupSpec;
    * higher-order functions evaluate interpreted (outside codegen), so
    * queries run the fused expression. */
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      j => array_min(transform(shingles, sh => xxhash64(sh, j))))

  /** 64-bit SimHash of a token multiset: per bit, sum +1/-1 weighted by
    * token-hash bit, take the sign. Order-insensitive by construction.
    * HOF form — the reference the fused [[simhashFused]] is pinned
    * against in DedupSpec; it evaluates interpreted and re-hashes every
    * token for each of the 64 bits, so queries run the fused
    * expression. */
  def simhash64(tokens: Column): Column = {
    val bits = transform(sequence(lit(0), lit(63)), b =>
      when(aggregate(tokens, lit(0L),
        (s, w) => s + when(call_function("shiftright", xxhash64(w), b)
          .bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)) > 0L, 1L).otherwise(0L))
    aggregate(sequence(lit(0), lit(63)), lit(0L),
      (acc, i) => acc.bitwiseOR(call_function("shiftleft", element_at(bits, i + 1), i)))
  }

  /** MinHash signatures through the fused native expression: one
    * codegen'd pass in the scan — no explode, no shuffle; see
    * [[graft.plans.MinHashSig]]. Values identical to
    * [[minhashSignature]]. */
  def minhashSignaturesFused(docs: DataFrame, textCol: String,
      k: Int): DataFrame =
    U.fan(docs).select(col("doc_id"),
      call_function("minhash_sig", wordSet(col(textCol)), lit(k)).as("sig"))

  /** SimHash signatures through the fused native expression
    * ([[graft.plans.SimHash64]]): computed in the scan itself, values
    * identical to [[simhash64]]. */
  def simhashFused(docs: DataFrame, textCol: String): DataFrame =
    U.fan(docs).select(col("doc_id"),
      call_function("simhash64", split(lower(col(textCol)), " ")).as("simhash"))

  private def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Survivor-pointer table for [[canonicalResolve]]: exact-dup groups
    * elect a keeper (min id per text digest); near-identical CONSECUTIVE
    * keepers (word-set jaccard >= 0.9 to the global predecessor) chain
    * onto it.
    *
    * The adjacent-keeper linkage needs `lag` over the GLOBAL id order —
    * the classic two-level stitch keeps it scale-safe (the naive
    * `Window.orderBy(id)` would move every keeper to one partition):
    *
    *   1. bucket keepers into id-range blocks (`id div blockSize`) and
    *      `lag` WITHIN each block — one hash exchange, parallel windows;
    *   2. per block, take the max-id row (map-side-combined aggregate)
    *      and `lag` over that block-summary table — the only
    *      single-partition step, over ~N/blockSize rows (recurse the same
    *      stitch if that ever gets big; at blockSize 4096 a 10^12-doc
    *      corpus summarizes to 2.4×10^8 rows ≈ one more level);
    *   3. inject each block's carry row (its predecessor block's last
    *      row) back, so the first row of every block sees its true global
    *      predecessor; empty blocks are handled because the summary lag
    *      links non-empty blocks directly.
    *
    * Ids must be non-negative (`div` truncation); blocks may be uneven if
    * ids are sparse — blockSize trades skew vs summary size.
    */
  def keeperPointers(docs: DataFrame, blockSize: Long = 4096): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val keeperOf = docs
      .withColumn("keeper",
        min(col("doc_id")).over(W.partitionBy(md5(col("text")))))
      .select(col("doc_id"), col("keeper"))
    val base = docs
      .join(keeperOf.filter(col("doc_id") === col("keeper"))
        .select(col("doc_id").as("id")), col("doc_id") === col("id"))
      .select(col("id"), wordSet(col("text")).as("w"))
      // integer `div`, not `/`: double division + cast truncation can
      // mis-assign ids above 2^53 to the wrong block, breaking the
      // carry-before-block sort invariant
      .withColumn("block", expr(s"id div ${blockSize}L"))
    // Block summaries: one row per non-empty block. The global lag over
    // this TINY table links each block to its predecessor's last row.
    val carry = base.groupBy("block")
      .agg(max_by(struct(col("id"), col("w")), col("id")).as("last"))
      .withColumn("c", lag(col("last"), 1).over(W.orderBy("block")))
      .filter(col("c").isNotNull)
      .select(col("block"), col("c.id").as("id"), col("c.w").as("w"),
        lit(true).as("is_carry"))
    val wb = W.partitionBy("block").orderBy("id")
    val keepers = base.withColumn("is_carry", lit(false))
      .unionByName(carry)
      .withColumn("prev_id", lag(col("id"), 1).over(wb))
      .withColumn("prev_w", lag(col("w"), 1).over(wb))
      // carry rows exist only to be lagged over — never emit them
      .filter(!col("is_carry"))
      .withColumn("parent",
        when(col("prev_id").isNotNull &&
          jaccard(col("w"), col("prev_w")) >= 0.9, col("prev_id"))
          .otherwise(col("id")))
      .select(col("id").as("k_id"), col("parent").as("k_parent"))
    // every doc points at its keeper; keepers point per the chain
    keeperOf
      .join(keepers, keeperOf("keeper") === keepers("k_id"))
      .select(col("doc_id").as("id"),
        when(col("doc_id") === col("keeper"), col("k_parent"))
          .otherwise(col("keeper")).as("parent"))
  }

  /** Resolve survivor-pointer chains to their canonical roots by pointer
    * doubling: each round replaces every pointer with its target's
    * pointer, halving chain depth — fixpoint in ceil(log2(maxDepth))
    * rounds of ONE self-join each (the convergence check reuses the same
    * join output), so even ten-million-deep chains cost ~24 joins. The
    * iterative-DataFrame pattern (convergence-checked loop) that
    * PageRank/label-propagation/connected-components share.
    *
    * Total over any input: a parent with no row of its own is treated as
    * a root (left join + coalesce), so rows never drop. Precondition for
    * termination: parent <= id per row (pointers only point backward),
    * which makes the chase monotone and loop-free. Throws if the
    * fixpoint isn't reached within maxIters — partially-resolved roots
    * must never masquerade as canonical ids.
    *
    * Lifecycle and lineage truncation (the self-join doubles the logical
    * plan per round) live in [[graft.plans.Iterate.fixpoint]] — fanout
    * 2, so the harness truncates every 5th round. The result is a
    * [[graft.Cut.eager]] cut.
    */
  def canonicalResolve(pointers: DataFrame, maxIters: Int = 30,
      driverRowCap: Long = Bounded.DriverEdgeCap): DataFrame = {
    // Same guarded driver fast path as [[connectedComponents]]: one
    // bounded probe of the persisted pointer set, and under the cap the
    // whole log-depth doubling loop collapses to a memoized pointer
    // chase (path-compressed, cycle-budgeted so a planted cycle still
    // fails loudly). Identical output contract: one (id, root) row per
    // input row, dangling parents are roots; parity pinned both-sides
    // in DedupSpec.
    val spark = pointers.sparkSession
    Cut.scoped(pointers.select(col("id"), col("parent").as("root"))) { pts =>
      Bounded.path("resolve") {
        if (!graft.operators.Graph.integralIds(pts, "id", "root")) None
        else Bounded.rows(pts.select(col("id").cast("long"),
          col("root").cast("long")), driverRowCap)
      } match {
        case Some(rows) =>
          val nRows = rows.length.toLong
          val parent = new java.util.HashMap[Long, Long](rows.length * 2)
          rows.foreach(r => parent.put(r.getLong(0), r.getLong(1)))
          def chase(x0: Long): Long = {
            var x = x0
            var steps = 0L
            while (parent.getOrDefault(x, x) != x) {
              x = parent.get(x)
              steps += 1
              if (steps > nRows)
                throw new IllegalStateException(
                  s"canonicalResolve did not converge in $steps steps " +
                    "(cycle, forward pointer, or raise maxIters)")
            }
            // path compression: re-walk and point every hop at the root
            var c = x0
            while (parent.getOrDefault(c, c) != c) {
              val nxt = parent.get(c); parent.put(c, x); c = nxt
            }
            x
          }
          val resolved = rows.map(r => (r.getLong(0), chase(r.getLong(1))))
          graft.Attrib.note("resolve_rows", nRows)
          import spark.implicits._
          val idT = pts.schema("id").dataType
          val rtT = pts.schema("root").dataType
          spark.createDataset(resolved.toSeq)
            .select(col("_1").cast(idT).as("id"), col("_2").cast(rtT).as("root"))
        case None =>
          var nRows = -1L
          val (out, iters) = graft.plans.Iterate.fixpoint(
            pts,
            fanout = 2, maxIters = maxIters,
            // the round output carries old_root for the convergence check;
            // the loop state (and result) is the narrow (id, root) projection
            narrow = _.select(col("id"), col("root"))) { cur =>
            val targets = cur.select(col("id").as("t_id"), col("root").as("t_root"))
            // One join serves both the doubling step and the stability check.
            cur.join(targets, cur("root") === col("t_id"), "left")
              .select(col("id"), col("root").as("old_root"),
                coalesce(col("t_root"), col("root")).as("root"))
          } { (step, _) =>
            // ONE job per round: the (total, changed) aggregation both
            // materializes every partition of the persisted step (a full pass
            // over all cached blocks — isEmpty alone would cache only the
            // partitions it touched, and the next round would recompute the
            // rest through unpersisted lineage) and decides convergence. At
            // log-depth round counts the per-round job overhead IS the cost
            // model at bench scale, so rounds must not pay two scheduler
            // round-trips for one pass of work.
            val cnts = step.agg(count(lit(1)),
              count(when(col("root") =!= col("old_root"), lit(1)))).head()
            // round 1's total is the pointer count (the left join keeps
            // every row)
            if (nRows < 0) nRows = cnts.getLong(0)
            cnts.getLong(1) == 0L
          } { n =>
            s"canonicalResolve did not converge in $n rounds " +
              "(cycle, forward pointer, or raise maxIters)"
          }
          graft.Attrib.note("resolve_rows", nRows)
          graft.Attrib.note("resolve_iters", iters.toLong)
          out
      }
    }
  }

  /** Connected components over an arbitrary undirected edge set by
    * alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — the general
    * cluster-closure primitive [[canonicalResolve]]'s monotone-forest
    * precondition can't cover: near-dup candidate PAIRS form an
    * arbitrary graph (a node's one-hop min is not its component min —
    * e.g. edges (5,3),(5,4) leave 4 pointing at itself), so pointer
    * doubling alone under-merges.
    *
    *  - large-star: every neighbor v > u re-attaches to
    *    min(Γ(u) ∪ {u}) — one groupBy(min) + equi-join, no per-node
    *    adjacency collect;
    *  - small-star: every small neighbor (and u itself) attaches to the
    *    group min over the (hi → lo)-oriented edges.
    *
    * Both rounds are shuffle-on-node-id aggregations + joins; the edge
    * set provably shrinks toward a star forest in O(log² n) rounds.
    * Lifecycle and lineage truncation live in
    * [[graft.plans.Iterate.fixpoint]] — one ls+ss alternation references
    * its input ~8× (sym twice, mins from sym, ss from ls twice, …), so
    * fanout 8 makes the harness truncate lineage EVERY round (a periodic
    * cadence that works for pointer doubling OOMs the driver here by
    * round 5). Returns the star edges (node, root) for every non-root
    * node; callers left-join and coalesce for singletons. Throws past
    * maxIters — a partially-merged labeling must never masquerade as
    * components. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 25,
      driverEdgeCap: Long = Bounded.DriverEdgeCap): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // Convergence detection, one job per round: each round's persisted
    // edge set is fingerprinted by (count, exact decimal sum of row
    // hashes) in a single aggregation (which also materializes every
    // cached partition). A fingerprint match is only a CANDIDATE for
    // convergence — it is CONFIRMED by an exact exceptAll before the
    // loop exits, so a hash collision can cost one wasted check, never
    // a wrong result. This moves the exceptAll job from every round to
    // only the final one (measured: the per-round job count IS the CC
    // cost at bench scale).
    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // The initial edge set is persisted and probed HERE ([[Bounded]]:
    // one job, which also materializes the cache the rounds read) so
    // the small-graph decision happens before any round runs. Under the
    // cap the whole closure collapses to driver-side union-find:
    // per-round cost in the iterative path is pure scheduler latency
    // once the graph is tiny (measured: dedup_cc_incremental's 7.27 s
    // driver-tail number was ~1 s of real work + rounds × stage
    // barriers), and a bounded union-find is exact and deterministic.
    // The path choice is invisible to callers: both emit the identical
    // star forest (node → component-min), pinned both-sides by
    // DedupSpec's planted arbitrary graphs.
    val spark = edges.sparkSession
    Cut.scoped(canon(edges)) { ce =>
      // integral-id guard: the fast path collects ids as longs; any other
      // key type falls through to the type-generic star alternation
      Bounded.path("cc") {
        if (!graft.operators.Graph.integralIds(ce, "a", "b")) None
        else Bounded.rows(ce.select(col("a").cast("long"),
          col("b").cast("long")), driverEdgeCap)
      } match {
        case Some(rows) =>
          // Union-find, roots kept at the component MIN (attach the larger
          // root under the smaller) with iterative path compression — the
          // same labeling the large-star/small-star fixpoint converges to.
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrDefault(r, r) != r) r = parent.get(r)
            var c = x
            while (parent.getOrDefault(c, c) != c) {
              val nxt = parent.get(c); parent.put(c, r); c = nxt
            }
            r
          }
          val nodes = new java.util.TreeSet[java.lang.Long]()
          rows.foreach { r =>
            val a = r.getLong(0); val b = r.getLong(1)
            nodes.add(a); nodes.add(b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
          }
          import scala.jdk.CollectionConverters._
          val stars = nodes.asScala.iterator.map(n => (n.longValue, find(n)))
            .filter(p => p._1 != p._2).toSeq
          graft.Attrib.note("cc_edges", rows.length.toLong)
          import spark.implicits._
          val aT = ce.schema("a").dataType
          val bT = ce.schema("b").dataType
          spark.createDataset(stars)
            .select(col("_1").cast(aT).as("a"), col("_2").cast(bT).as("b"))
        case None =>
          // materializes every cached partition and seeds round 1's
          // convergence check; the fixpoint's first generation is the
          // already-persisted `ce` (no second cache entry), released as
          // round 1 lands
          val initSig = fingerprint(ce)
          var curSig = initSig
          val (out, iters) = graft.plans.Iterate.fixpoint(
            ce, fanout = 8, maxIters = maxIters) { cur =>
            // one alternation: large-star over the symmetric view, then
            // small-star over the (hi=a → lo=b) orientation canon provides.
            // Exactly ONE alternation per materialization: batching two to
            // halve scheduler passes was MEASURED WORSE (2.3 → 8.1 s warm) —
            // the outer round references the inner result ~8× and nothing is
            // persisted between them, so the inner alternation recomputes
            // under every reference; DataFrames share no common-subplan
            // reuse below an exchange, and the duplicated-subtree plan also
            // bloats Catalyst. The persist-per-round discipline is not
            // overhead to amortize away; it IS what makes each round linear.
            val sym = cur.select(col("a").as("u"), col("b").as("n"))
              .unionByName(cur.select(col("b").as("u"), col("a").as("n")))
            val mins = sym.groupBy("u").agg(min(col("n")).as("mn"))
              .select(col("u"), least(col("mn"), col("u")).as("m"))
            val ls = canon(sym.join(mins, "u").filter(col("n") > col("u"))
              .select(col("n").as("a"), col("m").as("b")))
            val mins2 = ls.groupBy("a").agg(min(col("b")).as("m"))
            val ss = ls.join(mins2, "a")
              .select(col("b").as("x"), col("m").as("y"))
              .unionByName(mins2.select(col("a").as("x"), col("m").as("y")))
            canon(ss.select(col("x").as("a"), col("y").as("b")))
          } { (next, prev) =>
            val nextSig = fingerprint(next)
            // candidate (hash match) → confirm exactly: same cardinality and
            // no row of next outside prev (both sides are post-distinct)
            val done = nextSig == curSig && next.exceptAll(prev).isEmpty
            curSig = nextSig
            done
          } { n =>
            s"connectedComponents did not converge in $n rounds"
          }
          graft.Attrib.note("cc_edges", initSig._1)
          graft.Attrib.note("cc_iters", iters.toLong)
          out
      }
    }
  }

  /** Shared detector for the substring-span family (dedup_substring_span
    * reports, dedup_substring_strip applies): maximal runs of ≥ L = 16
    * consecutive words shared verbatim between a document pair, via
    * bucketed positional K = 8-gram fingerprints and diagonal
    * gaps-and-islands merging. Returns (da, db, sa, sb, len) with
    * da < db; full design rationale at the dedup_substring_span query
    * registration. Empty/short docs self-exclude (size(w) >= K). */
  private def substringSpans(s: SparkSession, d: String): DataFrame = {
    val K = 8
    val L = 16
    val W = org.apache.spark.sql.expressions.Window
    val w = split(col("text"), " ")
    val grams = graft.U.fan(t(s, d, "documents").select("doc_id", "text"))
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= K)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("w")) - K),
          i => array_join(slice(col("w"), i + 1, lit(K)), " "))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "gram")
    // Occurrence cap via a gram-partitioned window instead of a
    // groupBy + join-back: the aggregate form computed the gram subtree
    // (tokenize + K slices + string builds — the dominant cost) THREE
    // times (count branch + both join inputs); the window form folds the
    // cap into each join input's own pipeline (two computations, no
    // third branch, no join-back exchange), and the window's
    // exchange/sort already clusters on `gram` — exactly what the
    // self-join needs, so no additional shuffle on either side.
    // Measured 2.28 → 1.26 s at sf0.1. Same occ semantics: total
    // occurrence count per gram across the corpus.
    // cut: the self-join's two inputs are the same capped-hit table, and
    // each side would re-run the tokenize + K-gram build + occurrence
    // window. The cut is output-bounded (occ ∈ [2, 50] grams only), and
    // its partitioning from the window's hash(gram) exchange is exactly
    // the join's distribution requirement, so no re-shuffle either.
    val hits = Cut.eager(grams
      .withColumn("occ", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gram")))
      .filter(col("occ") >= 2 && col("occ") <= 50)
      .select("doc_id", "p", "gram"))
    val pairs = hits
      .select(col("gram"), col("doc_id").as("da"), col("p").as("pa"))
      .join(hits.select(col("gram"), col("doc_id").as("db"),
        col("p").as("pb")), Seq("gram"))
      .filter(col("da") < col("db"))
    val runs = pairs
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(
        W.partitionBy("da", "db", "diag").orderBy("pa")))
    runs.groupBy("da", "db", "diag", "isl")
      .agg(min(col("pa")).as("sa"), min(col("pb")).as("sb"),
        (max(col("pa")) - min(col("pa")) + K).as("len"))
      .filter(col("len") >= L)
  }

  /** Embedding near-dup pairs: sign-bit LSH bucket + exact cosine for
    * every within-bucket pair, ranked by similarity.
    *
    * Bucket-LOCAL pair generation (same shape as [[minhashPairs]]):
    * signatures and norms are computed ONCE and pairs come from
    * `collect_list` within each bucket group — a self-join on bucket
    * would re-run the whole hyperplane pipeline on both sides. The
    * cosine is computed inside the enumeration lambda so the exploded
    * structs carry (id1, id2, cos) — never full vector copies per pair.
    * Oversized buckets are CAPPED to their first maxBucket members (by
    * vec_id) rather than dropped: a degenerate bucket is exactly where
    * near-duplicates concentrate, so losing it entirely would zero
    * recall; the cap bounds fan-out at maxBucket²/2 while keeping
    * within-cap pairs.
    */
  def embeddingLshPairs(embeddings: DataFrame, nBits: Int = 8,
      maxBucket: Int = 256): DataFrame = {
    val e = embeddings
      .withColumn("vd", VectorOps.toDouble(col("embedding")))
      .withColumn("bucket",
        graft.similarity.Similarity.bucketCol(col("vd"), nBits))
      // Precompute norms once per vector: the pair stage then costs one
      // dot product per pair instead of three.
      .withColumn("nrm", VectorOps.l2norm(col("vd")))
    val members = col("ms")
    // zero-norm guard (VectorOps.cosine convention): without it a
    // zero/empty vector yields NaN, which Spark's descending sort ranks
    // ABOVE every real similarity; null ranks last instead.
    def cosOf(a: Column, b: Column): Column = {
      val denom = a.getField("nrm") * b.getField("nrm")
      when(denom > 0.0,
        VectorOps.dot(a.getField("vd"), b.getField("vd")) / denom)
    }
    e.groupBy("bucket")
      .agg(slice(sort_array(collect_list(
        struct(col("vec_id"), col("vd"), col("nrm")))), 1, maxBucket)
        .as("ms"))
      .filter(size(members) >= 2)
      .select(explode(flatten(transform(
        sequence(lit(0), size(members) - 2),
        i => transform(slice(members, i + 2, size(members)),
          y => struct(
            element_at(members, i + 1).getField("vec_id").as("id1"),
            y.getField("vec_id").as("id2"),
            cosOf(element_at(members, i + 1), y).as("cos"))))))
        .as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"),
        round(col("p.cos"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id1"), col("id2"))
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Bucket-local pair generation: group each (band, bucket-hash) into its
    * sorted member-id list and emit the id pairs from within the list —
    * ONE aggregation of the banded signatures instead of a windowed count
    * plus a self-join that would re-run the whole signature pipeline on
    * both sides. The maxBucket size guard (skew/noise cap for degenerate
    * stopword-heavy buckets) bounds the per-group pair fan-out at
    * maxBucket²/2, so the local generation never explodes.
    */
  def minhashPairs(s: SparkSession, d: String, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.8,
      maxBucket: Int = 64): DataFrame = {
    val rows = numHashes / bands
    val docs = t(s, d, "documents")
      .select(col("doc_id"), wordSet(col("text")).as("words"))
    val sig = minhashSignaturesFused(t(s, d, "documents"), "text", numHashes)
    val banded = sig.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b).as("bh"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val ids = col("ids")
    val cand = banded
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(ids).between(2, maxBucket))
      .select(explode(flatten(transform(
        sequence(lit(0), size(ids) - 2),
        i => transform(slice(ids, i + 2, size(ids)),
          y => struct(element_at(ids, i + 1).as("id1"), y.as("id2"))))))
        .as("p"))
      .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
      // a pair can collide in several bands — emit it once
      .dropDuplicates("id1", "id2")
    // Verify candidates with exact Jaccard (join shingle sets back by id —
    // candidates are few, the doc table is the big side).
    cand
      .join(docs.select(col("doc_id").as("id1"), col("words").as("wa")), Seq("id1"))
      .join(docs.select(col("doc_id").as("id2"), col("words").as("wb")), Seq("id2"))
      .withColumn("jaccard", jaccard(col("wa"), col("wb")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: group by digest, keep min id (dropDuplicates analog
    // with a deterministic survivor).
    "dedup_exact" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // URL-canonical dedup — web-crawl dedup's FIRST line: collapse crawl
    // variants of the same page (scheme/host case, default :80/:443
    // ports, www., tracking params, fragments, trailing slash) before
    // any content hashing runs. Map-only canonicalization (regexps are
    // codegen'd string ops), then ONE groupBy on the canonical string —
    // at 100 TB the shuffle key is the canonical URL, never the page
    // body. URLs are a deterministic derivation of `documents` (no URL
    // column in the star schema) exercising every rule; the oracle
    // rebuilds them and replays the same regexp pipeline (patterns are
    // backreference-free so Spark and DuckDB dialects agree; Spark
    // replaces all matches by default = DuckDB 'g').
    "dedup_url_canonical" -> ((s, d) => {
      val n = (col("doc_id") % 50).cast("string")
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("HTTPS://WWW.Corpus.Example.COM:443/docs/"), n,
            lit("/?utm_source=feed&utm_campaign="), col("source"),
            lit("&ref=rss#frag")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("https://www.corpus.example.com/docs/"), n, lit("/")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("http://corpus.example.com:80/docs/"), n,
            lit("?id="), col("doc_id").cast("string")))
        .otherwise(concat(lit("https://corpus.example.com/docs/"), n))
      val scheme = lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1))
      val host = regexp_replace(regexp_replace(
        lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)),
        ":(80|443)$", ""), "^www\\.", "")
      val pq = regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^#]*)", 1)
      val path = regexp_extract(pq, "^([^?]*)", 1)
      val query = regexp_extract(pq, "\\?(.*)$", 1)
      val cq = regexp_replace(
        regexp_replace(query, "(utm_[a-z]+|ref)=[^&]*&?", ""), "&$", "")
      t(s, d, "documents")
        .withColumn("url", url)
        .withColumn("canonical_url",
          concat(scheme, lit("://"), host, regexp_replace(path, "/+$", ""),
            when(cq =!= "", concat(lit("?"), cq)).otherwise(lit(""))))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keeper_doc_id"))
        .orderBy("canonical_url")
    }),

    // Duplicate-cluster size distribution — the corpus-health report a
    // dedup run is judged by (how much of the corpus is singleton vs
    // boilerplate blast radius). Two aggregations: digest→cluster size
    // (the shuffle carries a 16-byte key, never text), then size→counts
    // (output rows ≤ max cluster size — trivially small at any scale).
    "dedup_cluster_stats" -> ((s, d) =>
      t(s, d, "documents")
        .groupBy(md5(col("text")).as("digest"))
        .agg(count(lit(1)).as("csize"))
        .groupBy("csize")
        .agg(count(lit(1)).as("n_clusters"),
          U.lng(sum(col("csize"))).as("n_docs"))
        .withColumn("dup_docs", col("n_docs") - col("n_clusters"))
        .orderBy("csize")),

    // Incremental ingest dedup — the daily-batch shape: the historical
    // corpus is a persisted digest INDEX (16 bytes/row, never text);
    // today's batch first collapses within itself (min doc_id per
    // digest — map-side partial agg), then anti-joins the index. At
    // scale the index is bucketed by digest, so the daily anti-join
    // co-locates without re-shuffling history, and the batch side
    // shuffles digests only; accepted survivors append their digests to
    // the same bucketed layout for the next run. Doc-id parity stands in
    // for the time axis at test scale.
    "dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val index = docs.filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("digest")).distinct()
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), md5(col("text")).as("digest"))
      batch.groupBy("digest").agg(min(col("doc_id")).as("keep_id"))
        .join(index, Seq("digest"), "left_anti")
        .select(col("keep_id"), col("digest"))
        .orderBy("keep_id")
    }),

    // Near-duplicate incremental ingest — the fuzzy companion to
    // dedup_incremental: today's batch is screened against the
    // historical corpus by banded-MinHash collision + exact-Jaccard
    // verify, so a re-crawled page with trivial edits doesn't re-enter
    // the corpus. The index persists its BANDED SIGNATURES
    // (band, band-hash, ids) — ~24 bytes/row, bucketed by (band, bh) at
    // scale so the daily screen is a co-located equi-join; the batch
    // side shuffles band hashes only, never text. Hot buckets (shared
    // boilerplate bands) are capped on the index side like minhashPairs'
    // maxBucket — bounded join fan-out trades recall only on
    // pathological bands, and boilerplate_strip is the upstream fix.
    // Oracled (plans.XxhSqlOracle.incrementalNearSql); semantics also
    // pinned by the planted-dup test in DedupSpec.
    "dedup_incremental_near" -> ((s, d) => {
      val numHashes = 32; val bands = 8; val rows = numHashes / bands
      val maxBucket = 64; val threshold = 0.8
      val docs = t(s, d, "documents")
      def banded(df: DataFrame): DataFrame = {
        val sig = minhashSignaturesFused(df, "text", numHashes)
        sig.select(col("doc_id"), explode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)
              .as("bh")))).as("bb"))
          .select(col("doc_id"), col("bb.band").as("band"),
            col("bb.bh").as("bh"))
      }
      val history = docs.filter(col("doc_id") % 2 === 0)
      val today = docs.filter(col("doc_id") % 2 === 1)
      val idx = banded(history).groupBy("band", "bh")
        .agg(sort_array(collect_list(col("doc_id"))).as("idx_ids"))
        .filter(size(col("idx_ids")) <= maxBucket)
      val matched = banded(today).join(idx, Seq("band", "bh"))
        .select(col("doc_id"), explode(col("idx_ids")).as("idx_id"))
        .dropDuplicates("doc_id", "idx_id")
        .join(today.select(col("doc_id"),
          wordSet(col("text")).as("wb")), "doc_id")
        .join(history.select(col("doc_id").as("idx_id"),
          wordSet(col("text")).as("wi")), "idx_id")
        .filter(jaccard(col("wb"), col("wi")) >= threshold)
        .select("doc_id").distinct()
      today.join(matched, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),

    // Exact dedup after canonicalization (case/punctuation/whitespace).
    "dedup_exact_norm" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      t(s, d, "documents")
        .groupBy(sha2(norm, 256).as("norm_sha"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")
    }),

    // Soft dedup (down-weight instead of drop): every copy in an
    // exact-dup cluster keeps weight 1/n_copies so duplicated content
    // contributes a constant expected mass to the training loss (the
    // reweighting alternative to survivor selection). One window over
    // the digest — the shuffle carries (id, 16-byte digest), never text.
    "dedup_soft_weight" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("text_md5")
      t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
        .withColumn("n_copies", count(lit(1)).over(w))
        .select(col("doc_id"), col("n_copies"),
          U.round6(lit(1.0) / col("n_copies")).as("weight"))
        .orderBy("doc_id")
    }),

    // Exact word-set Jaccard on adjacent-id pairs (the oracle-checkable
    // slice of set-similarity; the LSH path below generalizes it).
    "dedup_jaccard_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.select(col("doc_id"), wordSet(col("text")).as("wa"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        wordSet(col("text")).as("wb"))
      a.join(b, Seq("doc_id"))
        .select(col("doc_id").as("id1"),
          U.round6(jaccard(col("wa"), col("wb"))).as("jaccard"))
        .orderBy("id1")
    }),

    // MinHash+LSH near-dup pairs. Oracled: the full signature→band→
    // bucket→verify pipeline replays in DuckDB (plans.XxhSqlOracle);
    // recall/precision additionally asserted in DedupSpec.
    "dedup_minhash" -> ((s, d) => minhashPairs(s, d)),

    // Positional k-gram MinHash signatures (n-gram flavor: 3-word
    // shingles instead of word sets — order-sensitive, so permuted docs
    // stop colliding). Same fused expression, different shingle unit.
    // Oracled: signature + digest fold replayed in DuckDB
    // (plans.XxhSqlOracle.minhashKshingleSql).
    "dedup_minhash_kshingle" -> ((s, d) => {
      U.fan(t(s, d, "documents"))
        .select(col("doc_id"),
          call_function("minhash_sig", wordKShingles(col("text"), 3), lit(16))
            .as("sig"))
        .select(col("doc_id"),
          // emit a stable scalar digest of the signature (array columns
          // aren't sortable by the driver's compare)
          xxhash64(col("sig")).as("sig_hash"))
        .orderBy("doc_id")
    }),

    // Per-doc 64-bit SimHash signatures via the fused native expression
    // (one codegen'd scan, no explode/shuffle; values identical to the
    // HOF simhash64 — asserted in DedupSpec). Oracled: the xxhash64
    // token hash is replayed in DuckDB by generated mod-2^64 HUGEINT
    // arithmetic (plans.XxhSqlOracle), so "hash-defined" is now
    // value-checked end to end.
    "dedup_simhash" -> ((s, d) =>
      simhashFused(t(s, d, "documents"), "text").orderBy("doc_id")),

    // SimHash near-dup pairs on adjacent ids via Hamming distance. With
    // the fused signature the recompute on the second join side is just
    // another map-only scan — no persist needed, no shuffle until the
    // narrow (id, sig) join itself.
    "dedup_simhash_pairs" -> ((s, d) => {
      val sh = simhashFused(t(s, d, "documents"), "text")
        .withColumnRenamed("simhash", "sh")
      val a = sh.select(col("doc_id"), col("sh").as("sha"))
      val b = sh.select((col("doc_id") - 1).as("doc_id"), col("sh").as("shb"))
      a.join(b, Seq("doc_id"))
        .select(col("doc_id").as("id1"),
          bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long").as("hamming"))
        .orderBy("id1")
    }),

    // k-NN graph over the LSH buckets — the neighborhood structure
    // every graph-based pipeline stage consumes (triangle counting,
    // label propagation, graph-based dedup): per vector, its 3 most
    // similar WITHIN-BUCKET neighbors, both directions of each bucket
    // pair. Bucket-local rank windows (partitioned by src — never
    // global); candidate generation inherits embeddingLshPairs'
    // capped buckets, so fan-out is bounded at any corpus size.
    "sim_knn_graph" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val pairs = embeddingLshPairs(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
        .filter(col("cos_sim").isNotNull)
      val sym = pairs.select(col("id1").as("src"), col("id2").as("dst"),
          col("cos_sim"))
        .unionByName(pairs.select(col("id2").as("src"),
          col("id1").as("dst"), col("cos_sim")))
      sym.withColumn("rn", row_number().over(
          W.partitionBy("src").orderBy(col("cos_sim").desc, col("dst")))
          .cast("long"))
        .filter(col("rn") <= 3)
        .orderBy("src", "rn")
    }),

    // kNN label propagation over the LSH graph — semi-supervised
    // labeling in the shape that scales: neighbors come from the
    // bucketed candidate generation above (never all-pairs), labels
    // join in, and the majority vote is one bounded aggregate + one
    // ≤k-row-per-vector rank. This is the production path; the exact
    // all-pairs twin below is the oracle-able ground truth it is
    // validated against.
    "ml_knn_classify_ann" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val knn = queries("sim_knn_graph")(s, d)
      val labels = t(s, d, "embeddings").select(col("vec_id"), col("label"))
      val votes = knn
        .join(labels.select(col("vec_id").as("dst"),
          col("label").as("nlabel")), "dst")
        .groupBy("src", "nlabel").agg(count(lit(1)).as("c"))
      val best = votes.withColumn("vr", row_number().over(
          W.partitionBy("src").orderBy(col("c").desc, col("nlabel"))))
        .filter(col("vr") === 1)
      best.join(labels.select(col("vec_id").as("src"), col("label")), "src")
        .select(col("src").as("vec_id"), col("label"),
          col("nlabel").as("pred"),
          (col("label") === col("nlabel")).as("correct"))
        .orderBy("vec_id")
    }),

    // Exact leave-one-out 5-NN classification — the ground-truth eval
    // for the ANN variant above. Deliberately all-pairs (the only form
    // a SQL oracle can replay exactly); quadratic BY CONTRACT, run on
    // the bounded embeddings table. At corpus scale the same vote runs
    // over ANN candidates (ml_knn_classify_ann) — the pair is the
    // recall experiment: exact answer vs bucketed candidates.
    // Bench posture: like join_blocked_jaro, this key is quadratic by
    // contract and its sf1 wall time swings 1.8x run-to-run (25-50 s of
    // all-pairs task time on a shared box); read its headline timing
    // with that in mind — ml_knn_classify_ann is the scale path.
    "ml_knn_classify" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val e0 = t(s, d, "embeddings")
        .select(col("vec_id"),
          VectorOps.toDouble(col("embedding")).as("vd"), col("label"))
        .withColumn("nrm", VectorOps.l2norm(col("vd")))
      // Quadratic-BY-CONTRACT guard (count-before-join, the
      // Graph.scala:396 discipline): this is the labeled ground-truth
      // twin of ml_knn_classify_ann and deliberately all-pairs — the
      // only form a SQL oracle replays exactly. A copy-paste of it
      // onto a data-scaled corpus must die loudly here, not OOM a
      // cluster running n² cosines: 30k rows ≈ 9·10⁸ comparisons is
      // the most a ground-truth eval should ever burn.
      val nVec = e0.count()
      require(nVec <= 30000L,
        s"ml_knn_classify: $nVec vectors → ~${nVec * nVec} exact " +
          "leave-one-out comparisons. This query is the all-pairs " +
          "ground-truth eval (quadratic by contract); for corpus-scale " +
          "classification use ml_knn_classify_ann (bucketed candidates) " +
          "and validate its recall on a ≤30k sample of this query.")
      val q = e0.select(col("vec_id").as("qid"), col("vd").as("qd"),
        col("label").as("qlabel"), col("nrm").as("qnrm"))
      // U.fan: the all-pairs stage runs on the streamed side's scan
      // partitioning — one task for a single-row-group input
      val sc = graft.U.fan(e0).join(broadcast(q), col("vec_id") =!= col("qid"))
        .filter(col("nrm") * col("qnrm") > 0.0)
        .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
          round(VectorOps.dot(col("vd"), col("qd"))
            / (col("nrm") * col("qnrm")), 6).as("cs"))
      val top = sc.withColumn("rn", row_number().over(
          W.partitionBy("qid").orderBy(col("cs").desc, col("vec_id"))))
        .filter(col("rn") <= 5)
      val votes = top.groupBy("qid", "qlabel", "label")
        .agg(count(lit(1)).as("c"))
      val best = votes.withColumn("vr", row_number().over(
          W.partitionBy("qid").orderBy(col("c").desc, col("label"))))
        .filter(col("vr") === 1)
      best.select(col("qid").as("vec_id"), col("qlabel").as("label"),
        col("label").as("pred"),
        (col("qlabel") === col("label")).as("correct"))
        .orderBy("vec_id")
    }),

    // Paragraph-level corpus dedup (the Dolma/C4 shape): documents are
    // chunked into fixed 10-word "paragraphs", every chunk dedups
    // CORPUS-WIDE (keeper = lexicographically first (doc_id, chunk_idx)
    // occurrence), and each document reassembles from its surviving
    // chunks — the sub-document dedup that removes boilerplate shared
    // ACROSS documents where doc-level exact/near dedup keeps both.
    // Scale shape: one explode → one hash aggregation keyed on the
    // chunk text → join back → per-doc bounded re-assembly
    // (collect_list is capped by chunks-per-doc, ~len/10); the shuffle
    // carries chunk digests, never the reassembled corpus.
    "dedup_paragraph" -> ((s, d) => {
      val P = 10
      val toks = split(col("text"), " ")
      val nChunks = ceil(size(toks) / P.toDouble).cast("int")
      // U.fan before the chunk explode: split+slice+concat of every
      // document ran on the 1-task single-row-group scan (1.9 s at
      // sf0.1); the narrow corpus shuffle buys 32-way chunking.
      // cut: the chunk table (about len/10 rows per document) has two
      // consumers, keeper election and the join back, and each would
      // re-run the split+slice+concat chunk build
      val chunks = Cut.eager(graft.U.fan(t(s, d, "documents")
          .select("doc_id", "text")).select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nChunks - 1),
            i => concat_ws(" ", slice(toks, i * P + 1, lit(P))))))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk"))
      val keeper = chunks.groupBy("chunk")
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"))
      chunks.join(keeper, "chunk")
        .withColumn("kept",
          col("doc_id") === col("k.doc_id") &&
            col("chunk_idx") === col("k.chunk_idx"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
          concat_ws(" ", transform(
            sort_array(collect_list(when(col("kept"),
              struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk"))).as("clean_text"))
        .orderBy("doc_id")
    }),

    // Exact substring-SPAN dedup (the deduplicate-text-datasets class —
    // Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better", public method): report every maximal run of ≥ L
    // consecutive words shared verbatim between a document pair. The
    // paper builds a corpus suffix array; the bucketed-fingerprint form
    // here is the same detector re-expressed relationally: positional
    // K-word grams are emitted in ONE map pass (posexplode over the
    // fanned scan), grams BUCKET by their text — only grams with 2..50
    // occurrences generate pairs (singleton grams can't witness a
    // shared span; grams above the cap are corpus boilerplate, the
    // boilerplate_strip family's job, and the cap bounds bucket fanout
    // exactly like the MinHash band cap — never all-pairs) — and
    // matched position pairs merge into maximal spans by
    // gaps-and-islands arithmetic on the (pair, diagonal) key: inside
    // one (doc_a, doc_b, pa−pb) group, consecutive pa values are one
    // island (island id = pa − row_number), and a length-n shared run
    // contributes exactly the consecutive diagonal matches
    // pa..pa+n−K. Shuffles carry (gram → positions) then
    // (pair, diagonal)-keyed integers, never document text; every
    // window is partitioned. span_words = max(pa)−min(pa)+K is exact
    // when the span's interior grams all survive the occurrence cap (a
    // capped interior gram splits the report into two shorter spans —
    // the oracle replays the identical rule, and at the paper's scale
    // those grams are precisely the ones its boilerplate pass removes
    // first).
    "dedup_substring_span" -> ((s, d) =>
      substringSpans(s, d)
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          col("sa").cast("long").as("start_a"),
          col("sb").cast("long").as("start_b"),
          col("len").cast("long").as("span_words"))
        .orderBy("doc_a", "doc_b", "start_a", "start_b")),

    // The APPLY step of substring-span dedup (the deduplicate-text-
    // datasets policy: the pair's LATER document loses its copy of
    // every detected span; the earlier keeps it — same lowest-id
    // survivor convention as dedup_exact). Per document: union the
    // [start_b, start_b+len) word intervals from every span where it is
    // the later side, merge overlaps/touches by Market.mergeIntervals'
    // gaps-and-islands pass (deterministic: DISTINCT intervals ordered
    // (st, en) — equal-start intervals always merge since en > st), and
    // rebuild the text from the surviving word positions. Scale shape:
    // the interval table is output-bounded (docs with detected spans
    // only), the anti join is an equi-join on doc_id with a range
    // residual against a dim-sized interval list, and the per-doc
    // reassembly is the dedup_paragraph collect_list shape (bounded by
    // words-per-doc). Empty documents are excluded IDENTICALLY on both
    // engines (the split('')-vs-string_split('') divergence pinned by
    // text_char_entropy).
    "dedup_substring_strip" -> ((s, d) => {
      val iv = substringSpans(s, d)
        .select(col("db").as("doc_id"), col("sb").cast("long").as("st"),
          (col("sb") + col("len")).cast("long").as("en"))
        .distinct()
      val merged = graft.operators.Market.mergeIntervals(iv, "doc_id")
        .select(col("doc_id"), col("start_us").as("st"),
          col("end_us").as("en"))
      val docs = t(s, d, "documents").select("doc_id", "text")
        .filter(length(col("text")) > 0)
      // Map-only strip apply (r18): the old shape posexploded EVERY
      // word of the corpus to rows, left-anti-joined the interval
      // table, and re-assembled each doc with a sort_array+collect_list
      // aggregate — three data-scaled passes for what is a per-doc
      // array transform. The merged islands collect to one array per
      // doc and join to the corpus; the drop test and reassembly then
      // run inside one codegen'd per-row expression — no explode, no
      // anti-join, no collect_list. The join carries no broadcast hint:
      // the interval table is O(docs with duplicated runs), which on a
      // heavily duplicated corpus is O(docs), so AQE picks broadcast or
      // shuffle from its runtime size instead of a forced broadcast
      // exhausting memory.
      // Word w at 0-based position p drops iff some [st, en) holds it —
      // exactly the old anti-join predicate; filter() preserves word
      // order, so clean_text is byte-identical.
      val ivAgg = merged.groupBy("doc_id")
        .agg(collect_list(struct(col("st"), col("en"))).as("ivs"))
      val wArr = split(col("text"), " ")
      val keptArr = filter(wArr, (wd, i) =>
        !coalesce(exists(col("ivs"), v =>
          i >= v.getField("st") && i < v.getField("en")), lit(false)))
      docs.join(ivAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(wArr).cast("long").as("n_words"),
          (size(wArr) - size(keptArr)).cast("long").as("n_dropped"),
          concat_ws(" ", keptArr).as("clean_text"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL connected components — the arriving-batch form of the
    // cluster closure: history (doc_id < 80% of corpus) is already
    // resolved to star edges (node → root); a new batch arrives and
    // only ITS candidate edges are generated (adjacent-id simhash pairs
    // touching a new doc). Re-closure runs over (history stars ∪ new
    // edges): correct because a star forest preserves exactly the
    // history's connectivity, and log²-cheap because the history
    // contributes depth-1 trees — the work scales with the BATCH plus
    // affected components, never the corpus (signatures for history
    // never recompute at production; here the corpus is re-read only
    // because the fixture derives both halves from one table). The
    // ORACLE is the same full-corpus run-label replay as
    // dedup_connected_components: incremental == full recompute IS the
    // correctness statement.
    "dedup_cc_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val n = docs.count()
      val cut = (n * 4) / 5
      // The signature table persists BEFORE the adjacent-id self-join:
      // its two branches are different projections of `sh` (no
      // ReusedExchange), so without the persist the fused simhash scan
      // — the expensive pass over the corpus — would run twice inside
      // the edge materialization (measured ~1.3 s/pass at sf0.1).
      Cut.scoped(simhashFused(docs, "text")
          .withColumnRenamed("simhash", "sh")) { sh =>
        val lhs = sh.select(col("doc_id"), col("sh").as("sha"))
        val rhs = sh.select((col("doc_id") - 1).as("doc_id"),
          col("doc_id").as("nxt"), col("sh").as("shb"))
        // ONE edge pass feeds both closures: without the persist the
        // history and batch filters would each recompute the join
        Cut.scoped(lhs.join(rhs, Seq("doc_id"))
            .filter(bit_count(col("sha").bitwiseXOR(col("shb"))) <= 16)
            .select(col("doc_id").as("a"), col("nxt").as("b"))) { allEdges =>
          // history closure (what a previous run would have persisted)
          val historyStars = connectedComponents(
            allEdges.filter(col("b") < cut))
          // new-batch edges: any pair touching a doc past the cut
          val newEdges = allEdges.filter(col("b") >= cut)
          val stars = connectedComponents(historyStars.unionByName(newEdges))
          // the returned plan reads only the closures' eager cuts, never
          // `sh` or `allEdges`, so both release when their scopes end
          docs.select(col("doc_id"))
            .join(stars.withColumnRenamed("a", "doc_id"), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("b"), col("doc_id")).as("component_id"))
            .orderBy("doc_id")
        }
      }
    }),

    // Near-dup cluster closure via GENERAL connected components: the
    // simhash screen emits candidate EDGES (adjacent ids within hamming
    // 16 here; any pair generator plugs in), and [[connectedComponents]]
    // closes them into clusters with alternating large-star/small-star
    // rounds — the arbitrary-graph primitive canonicalResolve's
    // backward-pointer forest can't express. Every doc gets its
    // component's min doc_id as the cluster label (singletons label
    // themselves). The ORACLE exploits that adjacent-id edges form
    // PATHS: a component is a maximal linked run, so its label is the
    // running max of break positions — linear SQL, no transitive
    // closure. Equality proves the general algorithm collapses paths
    // (its worst case for round count) exactly; DedupSpec pins
    // arbitrary non-path graphs (stars, triangles, crossings).
    "dedup_connected_components" -> ((s, d) => {
      // persist the signature table: the self-join's two projections
      // would otherwise each recompute the fused simhash corpus scan
      // (same rationale as dedup_cc_incremental above); the closure is
      // EAGER inside connectedComponents (collect or eager cut), so the
      // release is safe right after
      val stars = Cut.scoped(simhashFused(t(s, d, "documents"), "text")
          .withColumnRenamed("simhash", "sh")) { sh =>
        val l = sh.select(col("doc_id"), col("sh").as("sha"))
        val r = sh.select((col("doc_id") - 1).as("doc_id"),
          col("doc_id").as("nxt"), col("sh").as("shb"))
        connectedComponents(l.join(r, Seq("doc_id"))
          .filter(bit_count(col("sha").bitwiseXOR(col("shb"))) <= 16)
          .select(col("doc_id").as("a"), col("nxt").as("b")))
      }
      t(s, d, "documents").select(col("doc_id"))
        .join(stars.withColumnRenamed("a", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("b"), col("doc_id")).as("component_id"))
        .orderBy("doc_id")
    }),

    // Boilerplate REMOVAL — the apply step of dedup_repeated_ngrams'
    // detection below: the most-shared 5-gram (deterministic
    // (count, gram) argmax) broadcasts as a 1-row scalar and every
    // document drops its occurrences in a map-only rewrite. Strip +
    // seam-collapse runs TWICE: removing an occurrence and collapsing
    // the gap can splice the surrounding words back into the exact
    // boilerplate string ("A B <boiler> C" where A B + C themselves
    // form the gram), so a single pass can ship uncleaned text; the
    // second pass removes first-order splices (deeper adversarial
    // nesting would need a fixpoint loop — out of scope for a
    // single-expression rewrite, documented here). removed_chars is
    // bytes saved end-to-end (boilerplate + collapsed whitespace). The
    // detect→broadcast→strip shape is how header/footer boilerplate
    // gets cleaned at corpus scale: the boilerplate table stays
    // dims-sized and the rewrite never shuffles the fact.
    "boilerplate_strip" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val top = docs.select(
        explode(wordKShingles(col("text"), 5)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("gram")).limit(1)
        .select(col("gram").as("boiler"))
      // one strip pass: remove occurrences, collapse the seam, trim
      def strip(x: org.apache.spark.sql.Column) =
        trim(regexp_replace(replace(x, col("boiler"), lit("")), "  +", " "))
      docs.crossJoin(broadcast(top))
        // wordKShingles lowercases, so normalize the doc the same way
        .withColumn("cleaned", strip(strip(lower(col("text")))))
        .select(col("doc_id"), col("cleaned"),
          U.lng(length(lower(col("text"))) - length(col("cleaned")))
            .as("removed_chars"))
        .orderBy("doc_id")
    }),

    // Boilerplate detection: the most-repeated word 5-grams across the
    // corpus (C4/RefinedWeb-style repeated-n-gram filtering — shared
    // shingles across many documents mark templated text). One explode +
    // one partial+final count; top-k via TakeOrderedAndProject.
    "dedup_repeated_ngrams" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"),
        // wordKShingles lowercases internally
        explode(wordKShingles(col("text"), 5)).as("gram"))
        .groupBy("gram")
        // == count(DISTINCT doc_id): wordKShingles array_distincts per
        // doc, so every (doc, gram) pair is unique by construction — a
        // plain count skips the two-phase distinct aggregation (one
        // exchange instead of two). The oracle keeps the DISTINCT
        // spelling; equality is exactly the uniqueness invariant.
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("gram"))
        .limit(20)
    }),

    // Canonical survivor resolution — the cluster step of a real dedup
    // pipeline: [[keeperPointers]] builds the survivor-pointer table
    // (keeper election + scale-safe adjacent-keeper linkage), and chains
    // resolve to one canonical doc per cluster via pointer-doubling
    // ([[canonicalResolve]]). Oracle: the same pointer table chased with
    // a DuckDB recursive CTE.
    "dedup_canonical_resolve" -> ((s, d) =>
      canonicalResolve(keeperPointers(t(s, d, "documents")))
        .select(col("id").as("doc_id"), col("root").as("canonical_id"))
        .orderBy("doc_id")),

    // Embedding cosine on adjacent-id pairs (oracle-checked numeric path).
    "dedup_embed_cosine_pairs" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val a = e.select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("va"))
      val b = e.select((col("vec_id") - 1).as("vec_id"),
        VectorOps.toDouble(col("embedding")).as("vb"))
      a.join(b, Seq("vec_id"))
        .select(col("vec_id").as("id1"),
          round(VectorOps.cosine(col("va"), col("vb")), 6).as("cos_sim"))
        .orderBy("id1")
    }),

    // Embedding near-dup candidates via sign-bit LSH buckets + exact
    // cosine within bucket, ranked. Oracled: the bucketing replays in
    // DuckDB from the embedded hyperplane literals (the same trick as
    // sim_ann_lsh_topk — Similarity.planesSqlLiteral), so bucket
    // membership, the 256-member cap and the pair cosines all pin
    // cross-engine; pair recall on a planted-duplicates fixture is
    // additionally asserted in DedupSpec. Coarse 8-bit buckets (256)
    // here because this corpus has no true near-dups; production uses
    // more bits + a cosine threshold.
    "dedup_embedding_lsh" -> ((s, d) =>
      embeddingLshPairs(
        U.fan(t(s, d, "embeddings"))
          .select(col("vec_id"), col("embedding")))
        .limit(20)),

    // Benchmark decontamination (the GPT-3/Llama pretraining step): flag
    // training documents that share any word 8-gram with a held-out
    // evaluation set — stand-in here: doc_id % 97 == 0 plays the eval
    // suite. Scale shape: eval suites are MBs against TBs of training
    // text, so the benchmark gram set is BROADCAST and the training-side
    // explode never shuffles until the per-doc count (map-side partial).
    // wordKShingles array_distincts per doc, so the plain count after the
    // join IS the distinct contaminated-gram count. Production uses
    // 8-13-grams; 3 here because this corpus is word-permutation text
    // (longer shared grams are vanishingly rare by construction).
    "dedup_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      contamination(docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), k = 3)
        .orderBy("doc_id")
    }),

    // Containment RATIO per training doc — the decontamination
    // DECISION metric on top of dedup_contamination's raw counts:
    // |shared ∩ doc| / |doc| is asymmetric (a tweet fully quoted in a
    // benchmark answer scores 1.0 even though Jaccard is tiny), which
    // is why eval-leak screening uses containment, not Jaccard. Same
    // broadcast-benchmark one-scan shape; every train doc gets a row
    // (zero-overlap docs score 0 — the decision needs them too).
    "dedup_containment_score" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val trainGrams = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          explode(wordKShingles(col("text"), 3)).as("gram"))
      val benchGrams = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(wordKShingles(col("text"), 3)).as("gram")).distinct()
      val tot = trainGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val shared = trainGrams.join(broadcast(benchGrams), Seq("gram"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      tot.join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("containment",
          U.round6(col("n_shared").cast("double") / col("n_grams")))
        .orderBy("doc_id")
    })
  )

  /** Per-training-doc count of distinct word k-grams that also occur in
    * the benchmark corpus. Benchmark gram set broadcasts (eval suites are
    * tiny next to training corpora); the training explode stays map-side
    * until the per-doc count's partial aggregation. */
  def contamination(train: DataFrame, bench: DataFrame, k: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(wordKShingles(col("text"), k)).as("gram")).distinct()
    train
      .select(col("doc_id"), explode(wordKShingles(col("text"), k)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** The sim_knn_graph oracle's CTE stack (LSH buckets → capped
    * bucket-local pairs → symmetric edges → per-source rank), shared
    * with the kNN-vote classifier oracle built on the same graph. */
  private val knnGraphCtes: String =
    s"""WITH pl AS (
       |  SELECT ${graft.similarity.Similarity.planesSqlLiteral} AS ps),
       |e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
       |  FROM embeddings),
       |b AS (
       |  SELECT vec_id, vd,
       |    ${graft.similarity.Similarity.bucketSql("vd")} AS bucket,
       |    sqrt(list_dot_product(vd, vd)) AS nrm
       |  FROM e, pl),
       |cap AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bucket
       |                                 ORDER BY vec_id) AS rn
       |    FROM b) WHERE rn <= 256),
       |pairs AS (
       |  SELECT e1.vec_id AS id1, e2.vec_id AS id2,
       |    round(list_dot_product(e1.vd, e2.vd)
       |      / (e1.nrm * e2.nrm), 6) AS cos_sim
       |  FROM cap e1 JOIN cap e2
       |    ON e1.bucket = e2.bucket AND e1.vec_id < e2.vec_id
       |  WHERE e1.nrm * e2.nrm > 0.0),
       |sym AS (
       |  SELECT id1 AS src, id2 AS dst, cos_sim FROM pairs
       |  UNION ALL SELECT id2, id1, cos_sim FROM pairs),
       |ranked AS (
       |  SELECT src, dst, cos_sim,
       |    row_number() OVER (PARTITION BY src
       |                       ORDER BY cos_sim DESC, dst) AS rn
       |  FROM sym)""".stripMargin

  /** Shared CTE chain replaying [[substringSpans]] (K = 8, L = 16,
    * occurrence cap 50) — interpolated into both substring-family
    * oracles so the replay cannot drift between the detector and the
    * apply step. `tk` excludes empty documents (Spark split('') vs
    * DuckDB string_split('') divergence — harmless for spans, visible
    * in the strip's output universe). */
  private val substringSpanCtes: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS w
      |       FROM documents WHERE length(text) > 0),
      |g AS (
      |  SELECT doc_id, ix.i AS p,
      |    array_to_string(w[CAST(ix.i + 1 AS INT)
      |                      :CAST(ix.i + 8 AS INT)], ' ') AS gram
      |  FROM tk, (SELECT unnest(range(0, (SELECT CAST(max(len(w)) AS
      |                                      BIGINT) FROM tk))) AS i) ix
      |  WHERE len(w) >= 8 AND ix.i <= len(w) - 8),
      |h AS (
      |  SELECT doc_id, p, gram FROM (
      |    SELECT doc_id, p, gram,
      |      count(*) OVER (PARTITION BY gram) AS occ
      |    FROM g)
      |  WHERE occ >= 2 AND occ <= 50),
      |pr AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb
      |  FROM h a JOIN h b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |runs AS (
      |  SELECT da, db, pa, pb, pa - pb AS diag,
      |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
      |                            ORDER BY pa) AS isl
      |  FROM pr),
      |sp AS (
      |  SELECT da, db, min(pa) AS sa, min(pb) AS sb,
      |    max(pa) - min(pa) + 8 AS len
      |  FROM runs GROUP BY da, db, diag, isl
      |  HAVING max(pa) - min(pa) + 8 >= 16)""".stripMargin

  /** [[substringSpanCtes]] extended through the strip's interval merge,
    * anti join and reassembly, ending in
    * `stripped(doc_id, n_words, n_dropped, clean_text)` — shared by the
    * dedup_substring_strip oracle and pipeline_corpus_prep_v4's
    * composed replay. */
  private[graft] val substringStripCtes: String =
    s"""$substringSpanCtes,
      |iv AS (
      |  SELECT DISTINCT db AS doc_id, CAST(sb AS BIGINT) AS st,
      |    CAST(sb + len AS BIGINT) AS en
      |  FROM sp),
      |mg0 AS (
      |  SELECT doc_id, st, en,
      |    max(en) OVER (PARTITION BY doc_id ORDER BY st, en
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |mg1 AS (
      |  SELECT doc_id, st, en,
      |    CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS nw
      |  FROM mg0),
      |mg2 AS (
      |  SELECT doc_id, st, en,
      |    sum(nw) OVER (PARTITION BY doc_id ORDER BY st, en
      |      ROWS UNBOUNDED PRECEDING) AS isl
      |  FROM mg1),
      |mg AS (SELECT doc_id, min(st) AS st, max(en) AS en
      |       FROM mg2 GROUP BY doc_id, isl),
      |wd AS (
      |  SELECT doc_id, ix.i AS p, w[CAST(ix.i + 1 AS INT)] AS word
      |  FROM tk, (SELECT unnest(range(0, (SELECT CAST(max(len(w)) AS
      |                                      BIGINT) FROM tk))) AS i) ix
      |  WHERE ix.i < len(w)),
      |kept AS (
      |  SELECT wd.* FROM wd
      |  WHERE NOT EXISTS (SELECT 1 FROM mg
      |    WHERE mg.doc_id = wd.doc_id
      |      AND wd.p >= mg.st AND wd.p < mg.en)),
      |ka AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    string_agg(word, ' ' ORDER BY p) AS clean_text
      |  FROM kept GROUP BY doc_id),
      |stripped AS (
      |  SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
      |    CAST(len(t.w) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_dropped,
      |    coalesce(ka.clean_text, '') AS clean_text
      |  FROM tk t LEFT JOIN ka USING (doc_id))""".stripMargin

  val oracles: Map[String, String] = Map(
    // SimHash replayed exactly: Spark's XXH64 string hash (seed 42) as
    // generated mod-2^64 HUGEINT SQL, distinct-vocabulary hashing, the
    // 64 bit-votes as one aggregation.
    "dedup_simhash" -> graft.plans.XxhSqlOracle.simhashSql,
    "dedup_simhash_pairs" -> graft.plans.XxhSqlOracle.simhashPairsSql,
    // incremental == full recompute: the oracle is the full-corpus
    // path replay, so a green row proves the star-forest carry is exact
    "dedup_cc_incremental" ->
      (graft.plans.XxhSqlOracle.simhashCore +
        """,
          |pairs AS (
          |  SELECT a.doc_id AS i,
          |    bit_count(xor(a.simhash, b.simhash)) AS ham
          |  FROM sigs a JOIN sigs b ON a.doc_id = b.doc_id + 1),
          |brk AS (
          |  SELECT s.doc_id,
          |    CASE WHEN p.ham IS NULL OR p.ham > 16 THEN s.doc_id END AS brk
          |  FROM sigs s LEFT JOIN pairs p ON p.i = s.doc_id)
          |SELECT doc_id,
          |  max(brk) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
          |    AS component_id
          |FROM brk ORDER BY doc_id""".stripMargin),
    "sim_knn_graph" ->
      s"""$knnGraphCtes
        |SELECT src, dst, cos_sim, rn FROM ranked WHERE rn <= 3
        |ORDER BY src, rn""".stripMargin,
    "ml_knn_classify_ann" ->
      s"""$knnGraphCtes,
        |lab AS (SELECT vec_id, label FROM embeddings),
        |wn AS (
        |  SELECT r.src, l.label AS nlabel
        |  FROM ranked r JOIN lab l ON l.vec_id = r.dst
        |  WHERE r.rn <= 3),
        |votes AS (
        |  SELECT src, nlabel, count(*) AS c
        |  FROM wn GROUP BY src, nlabel),
        |best AS (
        |  SELECT src, nlabel,
        |    row_number() OVER (PARTITION BY src
        |                       ORDER BY c DESC, nlabel) AS vr
        |  FROM votes)
        |SELECT b.src AS vec_id, l.label, b.nlabel AS pred,
        |  l.label = b.nlabel AS correct
        |FROM best b JOIN lab l ON l.vec_id = b.src
        |WHERE b.vr = 1 ORDER BY vec_id""".stripMargin,
    "ml_knn_classify" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd, label,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |sc AS (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, e.vec_id, e.label,
        |    round(list_dot_product(e.vd, q.vd) / (e.nrm * q.nrm), 6)
        |      AS cs
        |  FROM e, e q
        |  WHERE e.vec_id <> q.vec_id AND e.nrm * q.nrm > 0.0),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cs DESC, vec_id) AS rn
        |  FROM sc),
        |votes AS (
        |  SELECT qid, qlabel, label, count(*) AS c
        |  FROM top WHERE rn <= 5 GROUP BY qid, qlabel, label),
        |best AS (
        |  SELECT qid, qlabel, label,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY c DESC, label) AS vr
        |  FROM votes)
        |SELECT qid AS vec_id, qlabel AS label, label AS pred,
        |  qlabel = label AS correct
        |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin,
    "dedup_paragraph" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents),
        |mx AS (SELECT CAST(max(ceil(len(w) / 10.0)) AS BIGINT) AS m
        |       FROM tk),
        |ch AS (
        |  SELECT doc_id, ix.i AS chunk_idx,
        |    array_to_string(w[CAST(ix.i * 10 + 1 AS INT)
        |                      :CAST(ix.i * 10 + 10 AS INT)], ' ') AS chunk
        |  FROM tk, (SELECT unnest(range(0, (SELECT m FROM mx))) AS i) ix
        |  WHERE ix.i < ceil(len(w) / 10.0)),
        |marked AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |    row_number() OVER (PARTITION BY chunk
        |                       ORDER BY doc_id, chunk_idx) = 1 AS kept
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(count(*) FILTER (NOT kept) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN kept THEN chunk END, ' '
        |                      ORDER BY chunk_idx), '') AS clean_text
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // identical fingerprint → bucket-cap → diagonal-islands replay;
    // DuckDB list slicing w[a:b] is inclusive and every gram is full-K
    // by the len(w) >= 8 / i <= len(w) - 8 guards, so gram text matches
    // Spark's slice() byte-for-byte
    "dedup_substring_span" ->
      s"""WITH $substringSpanCtes
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(sa AS BIGINT) AS start_a, CAST(sb AS BIGINT) AS start_b,
        |  CAST(len AS BIGINT) AS span_words
        |FROM sp
        |ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin,
    // apply step: distinct later-side intervals → deterministic
    // (st, en)-ordered islands merge → positional anti join → ordered
    // string_agg reassembly; empty docs excluded identically to Spark
    "dedup_substring_strip" ->
      s"""WITH $substringStripCtes
        |SELECT doc_id, n_words, n_dropped, clean_text
        |FROM stripped ORDER BY doc_id""".stripMargin,
    // path-structure replay: adjacent-id edges ⇒ components are maximal
    // linked runs ⇒ label = running max of break positions (see the
    // query comment); the simhash itself replays via simhashCore
    "dedup_connected_components" ->
      (graft.plans.XxhSqlOracle.simhashCore +
        """,
          |pairs AS (
          |  SELECT a.doc_id AS i,
          |    bit_count(xor(a.simhash, b.simhash)) AS ham
          |  FROM sigs a JOIN sigs b ON a.doc_id = b.doc_id + 1),
          |brk AS (
          |  SELECT s.doc_id,
          |    CASE WHEN p.ham IS NULL OR p.ham > 16 THEN s.doc_id END AS brk
          |  FROM sigs s LEFT JOIN pairs p ON p.i = s.doc_id)
          |SELECT doc_id,
          |  max(brk) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
          |    AS component_id
          |FROM brk ORDER BY doc_id""".stripMargin),
    // MinHash family replayed the same way: the per-seed chain
    // hashInt(j, hashUTF8String(shingle, 42)) hashes each DISTINCT
    // shingle's bytes ONCE (the cost that kept this rows-only in
    // earlier rounds evaporates — the string chain runs per vocabulary
    // entry, the K seed mixes are 8 cheap vectorized stages over
    // vocab×K rows), signed-min folds per doc, and the LSH band hash
    // replays Spark's multi-arg xxhash64 fold (hashLong over the slice
    // from seed 42, then hashInt(band)). Bucket caps, pair dedup and
    // the exact-Jaccard verify all replay in plain SQL.
    "dedup_minhash" -> graft.plans.XxhSqlOracle.minhashPairsSql,
    "dedup_minhash_kshingle" -> graft.plans.XxhSqlOracle.minhashKshingleSql,
    "dedup_incremental_near" -> graft.plans.XxhSqlOracle.incrementalNearSql,
    // embeddingLshPairs replayed: plane-literal sign-bit buckets, the
    // per-bucket first-256-by-vec_id cap, within-bucket ordered pairs,
    // cosine as dot/(nrm1*nrm2) with the zero-norm NULL guard.
    "dedup_embedding_lsh" ->
      s"""WITH pl AS (
        |  SELECT ${graft.similarity.Similarity.planesSqlLiteral} AS ps),
        |e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, vd,
        |    ${graft.similarity.Similarity.bucketSql("vd")} AS bucket,
        |    sqrt(list_dot_product(vd, vd)) AS nrm
        |  FROM e, pl),
        |cap AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY bucket
        |                                 ORDER BY vec_id) AS rn
        |    FROM b) WHERE rn <= 256)
        |SELECT e1.vec_id AS id1, e2.vec_id AS id2,
        |  round(CASE WHEN e1.nrm * e2.nrm > 0.0 THEN
        |    list_dot_product(e1.vd, e2.vd) / (e1.nrm * e2.nrm) END, 6)
        |    AS cos_sim
        |FROM cap e1 JOIN cap e2
        |  ON e1.bucket = e2.bucket AND e1.vec_id < e2.vec_id
        |ORDER BY cos_sim DESC NULLS LAST, id1, id2 LIMIT 20""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "dedup_url_canonical" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN 'HTTPS://WWW.Corpus.Example.COM:443/docs/' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '/?utm_source=feed&utm_campaign='
        |        || source || '&ref=rss#frag'
        |      WHEN 1 THEN 'https://www.corpus.example.com/docs/' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '/'
        |      WHEN 2 THEN 'http://corpus.example.com:80/docs/' ||
        |        CAST(doc_id % 50 AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR)
        |      ELSE 'https://corpus.example.com/docs/' ||
        |        CAST(doc_id % 50 AS VARCHAR)
        |    END AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
        |      ':(80|443)$', ''), '^www\.', '') AS host,
        |    regexp_extract(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
        |      '^([^?]*)', 1) AS path,
        |    regexp_extract(regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1),
        |      '\?(.*)$', 1) AS query
        |  FROM urls),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host || regexp_replace(path, '/+$', '') ||
        |    (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS canonical_url
        |  FROM (SELECT *,
        |      regexp_replace(regexp_replace(query,
        |        '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'), '&$', '') AS cq
        |    FROM parts))
        |SELECT canonical_url, count(*) AS n_variants,
        |  min(doc_id) AS keeper_doc_id
        |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    "boilerplate_strip" ->
      """WITH g AS (
        |  SELECT unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(w) - 4, 1)),
        |    i -> CASE WHEN len(w) >= 5 THEN array_to_string(w[i:i+4], ' ')
        |         ELSE array_to_string(w, ' ') END))) AS gram
        |  FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)),
        |top AS (
        |  SELECT gram AS boiler FROM (
        |    SELECT gram, count(*) AS n_docs FROM g GROUP BY gram
        |    ORDER BY n_docs DESC, gram LIMIT 1)),
        |pass1 AS (
        |  SELECT doc_id, lower(text) AS orig,
        |    trim(regexp_replace(replace(lower(text), boiler, ''),
        |                        '  +', ' ', 'g')) AS c1, boiler
        |  FROM documents, top),
        |pass2 AS (
        |  SELECT doc_id, orig,
        |    trim(regexp_replace(replace(c1, boiler, ''), '  +', ' ', 'g'))
        |      AS cleaned
        |  FROM pass1)
        |SELECT doc_id, cleaned,
        |  CAST(length(orig) - length(cleaned) AS BIGINT) AS removed_chars
        |FROM pass2
        |ORDER BY doc_id""".stripMargin,
    "dedup_cluster_stats" ->
      """WITH clusters AS (
        |  SELECT md5(text) AS digest, count(*) AS csize
        |  FROM documents GROUP BY text)
        |SELECT csize, count(*) AS n_clusters,
        |  CAST(SUM(csize) AS BIGINT) AS n_docs,
        |  CAST(SUM(csize) AS BIGINT) - count(*) AS dup_docs
        |FROM clusters GROUP BY csize ORDER BY csize""".stripMargin,
    "dedup_incremental" ->
      """WITH idx AS (
        |  SELECT DISTINCT md5(text) AS digest FROM documents
        |  WHERE doc_id % 2 = 0),
        |batch AS (
        |  SELECT min(doc_id) AS keep_id, md5(text) AS digest
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY md5(text))
        |SELECT keep_id, digest FROM batch
        |WHERE digest NOT IN (SELECT digest FROM idx)
        |ORDER BY keep_id""".stripMargin,
    "dedup_exact_norm" ->
      """SELECT sha256(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_sha,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dedup_soft_weight" ->
      """SELECT doc_id,
        |  CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
        |    AS n_copies,
        |  round(CAST(1.0 AS DOUBLE) /
        |        count(*) OVER (PARTITION BY md5(text)) * 1000000) / 1000000
        |    AS weight
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_jaccard_pairs" ->
      """WITH w AS (SELECT DISTINCT doc_id,
        |             unnest(string_split(lower(text), ' ')) AS wd
        |           FROM documents),
        |sz AS (SELECT doc_id, count(*) AS n FROM w GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS id1, count(*) AS c
        |      FROM w a JOIN w b ON b.doc_id = a.doc_id + 1 AND a.wd = b.wd
        |      GROUP BY a.doc_id)
        |SELECT s1.doc_id AS id1,
        |  round(CAST(COALESCE(i.c, 0) AS DOUBLE) /
        |        (s1.n + s2.n - COALESCE(i.c, 0)) * 1000000) / 1000000 AS jaccard
        |FROM sz s1 JOIN sz s2 ON s2.doc_id = s1.doc_id + 1
        |LEFT JOIN i ON i.id1 = s1.doc_id
        |ORDER BY id1""".stripMargin,
    "dedup_repeated_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(w) - 4, 1)),
        |    i -> CASE WHEN len(w) >= 5 THEN array_to_string(w[i:i+4], ' ')
        |         ELSE array_to_string(w, ' ') END))) AS gram
        |  FROM toks)
        |SELECT gram, count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, gram LIMIT 20""".stripMargin,
    "dedup_canonical_resolve" ->
      """WITH RECURSIVE
        |grp AS (SELECT doc_id,
        |          min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |        FROM documents),
        |kd AS (SELECT d.doc_id AS id,
        |         list_distinct(string_split(lower(d.text), ' ')) AS w
        |       FROM documents d
        |       JOIN (SELECT DISTINCT keeper FROM grp) k ON k.keeper = d.doc_id),
        |ord AS (SELECT id, w,
        |          lag(id) OVER (ORDER BY id) AS prev_id,
        |          lag(w) OVER (ORDER BY id) AS prev_w
        |        FROM kd),
        |kp AS (SELECT id,
        |         CASE WHEN prev_id IS NOT NULL AND
        |           CAST(len(list_intersect(w, prev_w)) AS DOUBLE) /
        |             (len(w) + len(prev_w) - len(list_intersect(w, prev_w)))
        |             >= 0.9
        |         THEN prev_id ELSE id END AS parent
        |       FROM ord),
        |p AS (SELECT g.doc_id AS id,
        |        CASE WHEN g.doc_id = g.keeper THEN kp.parent
        |             ELSE g.keeper END AS parent
        |      FROM grp g JOIN kp ON kp.id = g.keeper),
        |chase(id, cur) AS (
        |  SELECT id, parent FROM p
        |  UNION
        |  SELECT c.id, pp.parent FROM chase c JOIN p pp ON pp.id = c.cur
        |)
        |SELECT id AS doc_id, min(cur) AS canonical_id
        |FROM chase GROUP BY id ORDER BY doc_id""".stripMargin,
    "dedup_embed_cosine_pairs" ->
      """SELECT a.vec_id AS id1,
        |  round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |                           CAST(a.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
        |                           CAST(b.embedding AS DOUBLE[])))), 6)
        |    AS cos_sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY id1""".stripMargin,
    "dedup_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(w) - 2, 1)),
        |    i -> CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
        |         ELSE array_to_string(w, ' ') END))) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, count(*) AS n_contaminated
        |FROM g JOIN bench USING (gram)
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "dedup_containment_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(w) - 2, 1)),
        |    i -> CASE WHEN len(w) >= 3 THEN array_to_string(w[i:i+2], ' ')
        |         ELSE array_to_string(w, ' ') END))) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM g
        |        WHERE doc_id % 97 <> 0 GROUP BY doc_id),
        |shared AS (
        |  SELECT g.doc_id, count(*) AS n_shared
        |  FROM g JOIN bench USING (gram)
        |  WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
        |SELECT tot.doc_id, tot.n_grams,
        |  COALESCE(shared.n_shared, 0) AS n_shared,
        |  round(CAST(COALESCE(shared.n_shared, 0) AS DOUBLE) / tot.n_grams
        |    * 1000000) / 1000000 AS containment
        |FROM tot LEFT JOIN shared ON shared.doc_id = tot.doc_id
        |ORDER BY tot.doc_id""".stripMargin
  )
}
