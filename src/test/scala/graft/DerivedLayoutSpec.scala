package graft

import graft.operators.CoreOps

/** Lifecycle semantics of the derived-artifact store ([[Derived]]) and
  * the shared derived-layout machinery (PartitionedData.derivedLayout).
  * The store: nested gets from inside a compute, one compute for
  * concurrent callers of a key, replacement (not accumulation) when the
  * source changes, separate entries for separate directories, `latest`,
  * and signatures over a non-local FileSystem. The layouts: the
  * stale-generation sweep must spare a CONCURRENT process's live
  * .tmp-<pid> build and must drop legacy-tag generations; in-place
  * (manifest-backed) builds are only READY once the post-build
  * completion marker exists, so a crash between manifest commits
  * rebuilds instead of serving the half-built table forever; a crashed
  * materialized-view build is rebuilt, not served.
  */
class DerivedLayoutSpec extends SparkSpec {

  private val base = java.nio.file.Paths.get("target", "graft-derived")
    .toAbsolutePath

  /** Fresh source dir holding a copy of the sf0.001 orders table —
    * unique per call so the (dir, signature) memo key never collides
    * with other tests' builds. */
  private def freshSource(): String = {
    val d = java.nio.file.Files.createTempDirectory("dlsrc").toString
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.parquet(s"$d/orders.parquet")
    d
  }

  private def mkdir(name: String): java.nio.file.Path = {
    val p = base.resolve(name)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve("payload"), Array[Byte](1))
    p
  }

  test("sweep: legacy-tag and dead-pid leftovers are dropped, a live " +
    "builder's tmp dir survives") {
    val d = freshSource()
    // legacy 32-bit-hashCode-tag generation (tag 'ab' — a length the
    // 16-hex SHA tag can never produce)
    val legacy = mkdir("orders_merged_ab_stalegen")
    // crashed builder's tmp (pid 999999999 does not exist)
    val dead = mkdir("orders_merged_ab_x.tmp-999999999")
    // concurrent builder's tmp, impersonated by a pid that is VISIBLE,
    // ALIVE, and OLDER than the tmp dir: our own parent (the sbt/test
    // JVM launcher). PID 1 (ADVICE r12) may be invisible under PID
    // namespaces with restricted /proc, and our own pid is excluded by
    // design (a same-pid leftover is by definition from a dead prior
    // process). Skip the liveness assertion if no parent is visible.
    val parentPid = java.lang.ProcessHandle.current().parent()
      .map[java.lang.Long](p => java.lang.Long.valueOf(p.pid()))
    val live = parentPid.map[java.nio.file.Path](pp =>
      mkdir(s"orders_merged_ab_y.tmp-$pp"))
    // a tmp claiming a live pid that STARTED AFTER the tmp's last write
    // cannot belong to that process (OS pid reuse): backdate an
    // impersonated tmp far before every live process's start. The
    // write-recency evidence is the newest mtime in the WHOLE tree
    // (ADVICE r13 — a deep part-file write must count as recent), so
    // the fixture backdates every entry, not just the dir.
    val reused = mkdir("orders_merged_ab_z.tmp-" +
      parentPid.orElse(java.lang.Long.valueOf(999999998L)))
    val backdate = java.nio.file.attribute.FileTime.fromMillis(1000L)
    java.nio.file.Files.setLastModifiedTime(reused.resolve("payload"),
      backdate)
    java.nio.file.Files.setLastModifiedTime(reused, backdate)
    // first access builds the layout and runs the sweep
    val out = java.nio.file.Paths.get(
      sources.PartitionedData.ordersMergedManifestTable(spark, d))
    assert(java.nio.file.Files.exists(out.resolve("_GRAFT_COMPLETE")))
    assert(!java.nio.file.Files.exists(legacy),
      "legacy-tag generation must be swept")
    assert(!java.nio.file.Files.exists(dead),
      "dead builder's tmp must be swept")
    assert(!java.nio.file.Files.exists(reused),
      "a pre-pid-start (reused-pid) tmp must be swept")
    if (live.isPresent) {
      assert(java.nio.file.Files.exists(live.get),
        "LIVE builder's tmp must survive the sweep")
      // clean the fake live tmp so it doesn't linger for real runs
      java.nio.file.Files.delete(live.get.resolve("payload"))
      java.nio.file.Files.delete(live.get)
    }
  }

  test("in-place readiness: a build that crashed between manifest " +
    "commits (marker missing) is rebuilt, not served") {
    val d = freshSource()
    val q = CoreOps.queries("scan_manifest_merge")
    val want = q(spark, d).collect().map(_.toString).sorted.toSeq
    val out = java.nio.file.Paths.get(
      sources.PartitionedData.ordersMergedManifestTable(spark, d))
    val marker = out.resolve("_GRAFT_COMPLETE")
    assert(java.nio.file.Files.exists(marker))
    // simulate the mid-sequence crash: commits exist, marker does not
    java.nio.file.Files.delete(marker)
    Derived.clear("orders_merged")
    val again = q(spark, d).collect().map(_.toString).sorted.toSeq
    assert(java.nio.file.Files.exists(marker),
      "re-access must rebuild and re-mark the layout")
    assert(again === want)
  }

  /** Fresh dir holding a one-column parquet table `t` of `n` rows. */
  private def tinySource(n: Int): String = {
    val d = java.nio.file.Files.createTempDirectory("dstore").toString
    writeTiny(d, n)
    d
  }

  private def writeTiny(d: String, n: Int): Unit =
    spark.range(n).write.mode("overwrite").parquet(s"$d/t.parquet")

  test("store: a compute may get other keys, concurrent callers of one " +
    "key share one compute, and every get notes train or hit") {
    val d = tinySource(3)
    val computes = new java.util.concurrent.atomic.AtomicInteger()
    def outer(): Int = Derived.get(spark, "test_outer", d, "t") { _ =>
      computes.incrementAndGet()
      Thread.sleep(200)
      // two levels of nesting, each a different key of the same store
      Derived.get(spark, "test_mid", d, "t")(_ =>
        Derived.get(spark, "test_inner", d, "t")(_ => 1) + 1) + 1
    }
    Attrib.drain()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = outer()
        }))
      assert(fs.map(_.get()) === Seq(3, 3, 3, 3))
    } finally pool.shutdown()
    assert(computes.get === 1, "concurrent callers must share one compute")
    Attrib.drain()
    assert(outer() === 3)
    assert(Attrib.drain().toMap.get("derived.test_outer") === Some("hit"))
    Derived.clear("test_outer")
    assert(outer() === 3)
    val notes = Attrib.drain().toMap
    assert(notes.get("derived.test_outer") === Some("train"))
    assert(notes.get("derived.test_mid") === Some("hit"))
    assert(computes.get === 2)
  }

  test("store: a regenerated source recomputes and REPLACES its entry " +
    "(one per key); a replaced DataFrame is unpersisted") {
    val d = tinySource(3)
    def rows(): Long = Derived.get(spark, "test_regen", d, "t")(_ =>
      spark.read.parquet(s"$d/t.parquet").count())
    // the signature column keeps the generations' plans distinct, so
    // the cache manager cannot answer for one with the other's data
    def cached(): org.apache.spark.sql.DataFrame =
      Derived.get(spark, "test_regen_df", d, "t", spark)(sig =>
        spark.read.parquet(s"$d/t.parquet")
          .withColumn("sig", org.apache.spark.sql.functions.lit(sig))
          .persist())
    assert(rows() === 3L)
    val before = cached()
    before.count()
    assert(before.storageLevel.useMemory)
    writeTiny(d, 5)
    assert(rows() === 5L, "a rewritten source must recompute")
    assert(cached().count() === 5L)
    assert(Derived.entries("test_regen") === 1)
    assert(Derived.entries("test_regen_df") === 1)
    assert(before.storageLevel ===
      org.apache.spark.storage.StorageLevel.NONE,
      "the replaced DataFrame must be unpersisted")
    Derived.clear("test_regen_df")
  }

  test("store: two directories with the same content are separate " +
    "entries, and latest returns the value last served") {
    val a = tinySource(3)
    val b = java.nio.file.Files.createTempDirectory("dstore").toString
    val src = java.nio.file.Paths.get(a, "t.parquet")
    val dst = java.nio.file.Paths.get(b, "t.parquet")
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach(p => java.nio.file.Files.copy(p,
      dst.resolve(src.relativize(p).toString),
      java.nio.file.StandardCopyOption.COPY_ATTRIBUTES))
    finally walk.close()
    def served(d: String): String =
      Derived.get(spark, "test_twin", d, "t", 1)(_ => d)
    assert(served(a) === a)
    assert(served(b) === b, "a twin directory must not hit the first")
    assert(Derived.entries("test_twin") === 2)
    assert(Derived.latest[String]("test_twin", 1) === Some(b))
    assert(served(a) === a)
    assert(Derived.latest[String]("test_twin", 1) === Some(a),
      "a hit is served too")
    assert(Derived.latest[String]("test_twin", 2) === None)
  }

  test("store: signatures list through the session's Hadoop FileSystem " +
    "— rewriting an object-store file recomputes the entry") {
    val s3 = new MiniS3.Server
    try {
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.s3r.impl", classOf[S3RestFileSystem].getName)
      hc.set("fs.s3r.endpoint", s3.endpoint)
      val d = "s3r://derived-signature/ds"
      val part = new org.apache.hadoop.fs.Path(s"$d/t.parquet/part-0")
      val fs = part.getFileSystem(hc)
      def put(bytes: Array[Byte]): Unit = {
        val out = fs.create(part)
        try out.write(bytes) finally out.close()
      }
      assert(Derived.signature(spark, s"$d/t.parquet") === 0L,
        "a missing path signs as 0")
      put(Array[Byte](1, 2, 3))
      val sig1 = Derived.signature(spark, s"$d/t.parquet")
      assert(sig1 !== 0L)
      val computes = new java.util.concurrent.atomic.AtomicInteger()
      def get(): Long = Derived.get(spark, "test_s3", d, "t") { sig =>
        computes.incrementAndGet(); sig }
      assert(get() === sig1)
      assert(get() === sig1 && computes.get === 1)
      put(Array[Byte](1, 2, 3, 4, 5))
      assert(Derived.signature(spark, s"$d/t.parquet") !== sig1)
      assert(get() !== sig1)
      assert(computes.get === 2, "the rewrite must recompute the entry")
    } finally s3.stop()
  }

  test("materialized view: a crashed build is rebuilt, not served, and " +
    "its dead builder's tmp is swept") {
    val d = java.nio.file.Files.createTempDirectory("mvsrc").toString
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .write.parquet(s"$d/lineitem.parquet")
    val mv = sources.MaterializedView.ensure(spark, d)
    val out = java.nio.file.Paths.get(mv.mvPath)
    assert(out.getFileName.toString.startsWith("mv_lineitem_pricing_"))
    def summary(): Seq[String] =
      spark.read.parquet(mv.mvPath).collect().map(_.toString).sorted.toSeq
    val want = summary()
    // simulate the crash: the summary dir lost its data and its
    // completion marker, and a dead builder left its tmp sibling
    val ls = java.nio.file.Files.list(out)
    try ls.forEach(p => java.nio.file.Files.delete(p)) finally ls.close()
    val name = out.getFileName.toString
    val deadTmp = mkdir(name.take(name.lastIndexOf('_') + 1) +
      "0.tmp-999999999")
    // recovery starts from a fresh JVM: no store entry, no registration
    Derived.clear("mv_lineitem_pricing")
    plans.MvRegistry.unregister(mv.name)
    val again = sources.MaterializedView.ensure(spark, d)
    assert(again.mvPath === mv.mvPath)
    assert(java.nio.file.Files.exists(out.resolve("_SUCCESS")),
      "re-access must rebuild the summary")
    assert(summary() === want)
    assert(!java.nio.file.Files.exists(deadTmp),
      "the dead builder's tmp must be swept")
  }
}
