package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: derived artifacts are cached in ONE place. A private
  * memo map or a `@volatile var last…` oracle record anywhere in
  * `src/main` outside [[Derived]] is a second copy of the caching
  * policy (keying, invalidation, oracle exposure) — use `Derived.get` /
  * `Derived.latest` instead. The allowed maps are not dataset-derived
  * artifacts: RangeJoinRewrite's two plan-keyed stats caches and the
  * MvRegistry catalog. */
class StoreLintSpec extends AnyFunSuite {
  private val root = java.nio.file.Paths.get("src", "main", "scala")

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
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)
      val code = text.linesIterator
        .filterNot(l => l.trim.startsWith("//") || l.trim.startsWith("*"))
        .mkString("\n")
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
}
