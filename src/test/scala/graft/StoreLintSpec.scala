package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: each concern has ONE mechanism in `src/main`.
  *
  *  - Derived artifacts are cached in [[Derived]]. A private memo map or
  *    a `@volatile var last…` oracle record anywhere else is a second
  *    copy of the caching policy (keying, invalidation, oracle
  *    exposure) — use `Derived.get` / `Derived.latest` instead. The
  *    allowed maps are not dataset-derived artifacts: RangeJoinRewrite's
  *    two plan-keyed stats caches and the MvRegistry catalog.
  *  - Driver-collect bounds are checked in [[Bounded]]. A hand-spelled
  *    `limit(cap + 1).collect()` probe or a `count() <=` guard anywhere
  *    else is a second copy of the bound check — use `Bounded.rows` /
  *    `Bounded.collect` instead.
  *  - h5ad files are decoded in [[graft.sources.H5ad]]. A
  *    `new MiniHdf5.Reader` anywhere else is a second h5ad reader (CSR
  *    checks, identity columns, task layout) — read through
  *    `format("h5ad")` or `H5ad.scanModalities` instead.
  *  - A scan that reports its own partitioning is built in
  *    [[graft.sources.H5ad]]. A `KeyGroupedPartitioning(` or
  *    `LogicalRDD(` anywhere else is a second claim about where rows
  *    sit, which Spark trusts without checking: a wrong one skips a
  *    needed exchange and silently splits groups.
  *  - Native functions reach a session through
  *    [[graft.plans.GraftExtensions]]. A `registerFunction` call or a
  *    `FunctionIdentifier(` anywhere else writes the shared session's
  *    function registry at runtime — add the function's
  *    `(info, builder)` to `GraftExtensions.functions` instead.
  *  - Intermediates are materialized through [[Cut]]. A raw
  *    `localCheckpoint(`, `.persist(`, `.cache()`, `.unpersist(` or
  *    `StorageLevel.` anywhere else is a second storage policy and a
  *    hand-spelled release that a throw can skip — use `Cut.eager`,
  *    `Cut.scoped`, `Cut.rounds` or `Cut.retained` instead. The one
  *    exception is [[Derived]]'s release of an entry it replaces.
  *  - A round-robin fan-out goes through [[U.fan]]. A
  *    `defaultParallelism` anywhere else sizes a fan by a second
  *    measure of the session's parallelism.
  *  - The engine takes no `spark.graft.*` session conf: each decision
  *    has one path, chosen from the data, so no option exists that
  *    only a test would set.
  *  - A session's conf is written only on a cloned session in
  *    [[graft.operators.Pruning]]: `bloomJoin` is the capability query
  *    that needs its own bloom-filter gate. A `newSession(` or
  *    `.conf.set(` anywhere else is a second execution mode (a frame
  *    of a clone carries the clone's conf into every plan built on it)
  *    or a runtime write to the shared session's conf. */
class StoreLintSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src", "main", "scala")

  /** Every main source file → its text without comment lines. */
  private lazy val sources: List[(java.nio.file.Path, String)] = {
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    files.map { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      f -> text.linesIterator
        .filterNot(l => l.trim.startsWith("//") || l.trim.startsWith("*"))
        .mkString("\n")
    }
  }

  /** file name → number of concurrent maps it may construct. */
  private val allowedMaps = Map(
    "Derived.scala" -> 2,
    "RangeJoinRewrite.scala" -> 2,
    "MvRewrite.scala" -> 1)

  private val mapDecl =
    """new\s+[\w.]*ConcurrentHashMap\b|\bTrieMap\s*\.\s*empty\b|new\s+[\w.]*TrieMap\b""".r
  private val lastVar =
    """@volatile(\s+(private|protected)(\[\w+\])?)?\s+var\s+last""".r

  test("no memo map or last-served var outside the derived-artifact " +
    "store") {
    val offenders = sources.flatMap { case (f, code) =>
      val name = f.getFileName.toString
      val maps = mapDecl.findAllIn(code).size
      val vars = lastVar.findAllIn(code).size
      (if (maps > allowedMaps.getOrElse(name, 0))
        Seq(s"$f: $maps ConcurrentHashMap/TrieMap") else Nil) ++
        (if (vars > 0 && name != "Derived.scala")
          Seq(s"$f: $vars @volatile var last*") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString(
      "cache derived artifacts through graft.Derived:\n", "\n", ""))
  }

  /** `.limit(<anything> + 1)` then `.collect()`, line breaks allowed. */
  private val capPlusOneProbe =
    """\.limit\([^()]*(\([^()]*\)[^()]*)*\+\s*1\s*\)\s*\.collect\(\)""".r
  private val countGuard = """\.count(\(\))?\s*<=""".r

  test("no hand-spelled driver-collect bound outside graft.Bounded") {
    val offenders = sources.flatMap { case (f, code) =>
      if (f.getFileName.toString == "Bounded.scala") Nil
      else (capPlusOneProbe.findAllIn(code) ++ countGuard.findAllIn(code))
        .map(m => s"$f: $m").toList
    }
    assert(offenders.isEmpty, offenders.mkString(
      "check driver-collect bounds through graft.Bounded:\n", "\n", ""))
  }

  /** `new MiniHdf5.Reader`, however qualified (or imported bare). */
  private val hdf5Reader = """\bnew\s+([\w.]*\.)?Reader\b""".r

  test("h5ad files are decoded in one place") {
    val offenders = sources.flatMap { case (f, code) =>
      if (f.getFileName.toString == "H5ad.scala") Nil
      else hdf5Reader.findAllIn(code).map(m => s"$f: $m").toList
    }
    assert(offenders.isEmpty, offenders.mkString(
      "decode h5ad files through graft.sources.H5ad:\n", "\n", ""))
  }

  private val reportedPartitioning = """\bKeyGroupedPartitioning\(|\bLogicalRDD\(""".r

  test("scans that report their partitioning are built in one place") {
    val offenders = sources.flatMap { case (f, code) =>
      if (f.getFileName.toString == "H5ad.scala") Nil
      else reportedPartitioning.findAllIn(code).map(m => s"$f: $m").toList
    }
    assert(offenders.isEmpty, offenders.mkString(
      "report a scan's partitioning only in graft.sources.H5ad:\n", "\n", ""))
  }

  private val functionRegistration = """\bregisterFunction\b|\bFunctionIdentifier\(""".r

  test("native functions are injected in one place") {
    val offenders = sources.flatMap { case (f, code) =>
      if (f.getFileName.toString == "GraftExtensions.scala") Nil
      else functionRegistration.findAllIn(code).map(m => s"$f: $m").toList
    }
    assert(offenders.isEmpty, offenders.mkString(
      "inject native functions through graft.plans.GraftExtensions:\n",
      "\n", ""))
  }

  private val materialization =
    """\blocalCheckpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(|\bStorageLevel\.""".r

  test("materialization in one place") {
    val offenders = sources.flatMap { case (f, code) =>
      f.getFileName.toString match {
        case "Cut.scala" => Nil
        case name =>
          val found = materialization.findAllIn(code).toList
          // Derived's release of an entry it replaces: one unpersist
          (if (name == "Derived.scala") found.diff(List(".unpersist("))
           else found).map(m => s"$f: $m")
      }
    }
    assert(offenders.isEmpty, offenders.mkString(
      "materialize and release intermediates through graft.Cut:\n", "\n", ""))
  }

  /** Offenders of `pattern` across every main source file. */
  private def anywhere(pattern: scala.util.matching.Regex): List[String] =
    sources.flatMap { case (f, code) =>
      pattern.findAllIn(code).map(m => s"$f: $m").toList
    }

  test("fan-outs go through U.fan") {
    val offenders = anywhere("""\bdefaultParallelism\b""".r)
    assert(offenders.isEmpty, offenders.mkString(
      "fan out through graft.U.fan:\n", "\n", ""))
  }

  private val sessionConfWrite = """\bnewSession\(|\.conf\.set\(""".r

  test("session conf is written only by the cloned-session capability " +
    "query") {
    val offenders = sources.flatMap { case (f, code) =>
      if (f.getFileName.toString == "Pruning.scala") Nil
      else sessionConfWrite.findAllIn(code).map(m => s"$f: $m").toList
    }
    assert(offenders.isEmpty, offenders.mkString(
      "derive the decision from the data in the caller's session:\n",
      "\n", ""))
  }

  test("no spark.graft.* session conf") {
    val offenders = anywhere("""spark\.graft\.""".r)
    assert(offenders.isEmpty, offenders.mkString(
      "derive the decision from the data instead of a conf:\n", "\n", ""))
  }
}
