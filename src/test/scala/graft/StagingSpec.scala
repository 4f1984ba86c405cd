package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Staging.memo` is the one "stage once per key" policy: these pin
  * its key rule and its build semantics, and a source guard keeps
  * operators from growing private memos again.
  */
class StagingSpec extends AnyFunSuite {

  // the memo is JVM-wide: every test keys under its own site
  private def site(name: String): String = s"spec_${name}_${System.nanoTime()}"

  test("memo: the same (site, key) builds once") {
    val s = site("once")
    val builds = new AtomicInteger
    val a = Staging.memo(s, "k")(builds.incrementAndGet())
    val b = Staging.memo(s, "k")(builds.incrementAndGet())
    assert(a === 1 && b === 1 && builds.get === 1)
    assert(Staging.staged[Int](s, "k") === Some(1))
    // params are part of the key
    assert(Staging.memo(s, "k", 8)(builds.incrementAndGet()) === 2)
    assert(Staging.memo(s, "k", 8)(builds.incrementAndGet()) === 2)
  }

  test("memo: an empty key builds on every call") {
    val s = site("fresh")
    val builds = new AtomicInteger
    Seq.fill(3)(Staging.memo(s, "")(builds.incrementAndGet()))
    assert(builds.get === 3)
    assert(Staging.staged[Int](s, "").isEmpty)
  }

  test("memo: two sites with the same key stay independent") {
    val (a, b) = (site("a"), site("b"))
    assert(Staging.memo(a, "dir")("from a") === "from a")
    assert(Staging.memo(b, "dir")("from b") === "from b")
    assert(Staging.memo(a, "dir")("rebuilt") === "from a")
  }

  test("memo: a build may call Staging.memo itself") {
    val (outer, inner) = (site("outer"), site("inner"))
    val got = Staging.memo(outer, "k") {
      Staging.memo(inner, "k")("inner") + "+outer"
    }
    assert(got === "inner+outer")
    assert(Staging.staged[String](inner, "k") === Some("inner"))
  }

  test("memo: a build that throws leaves no entry and is retried") {
    val s = site("throw")
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      Staging.memo[String](s, "k") {
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      }
    }
    assert(Staging.staged[String](s, "k").isEmpty)
    assert(Staging.memo(s, "k") { builds.incrementAndGet(); "ok" } === "ok")
    assert(builds.get === 2)
  }

  test("source guard: no private memo outside Staging") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root ($root)")
    val walk = Files.walk(root)
    val files =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    def name(p: Path) = p.getFileName.toString
    val offences = files.filter(p => name(p) != "Staging.scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if (l.contains("TrieMap") && name(p) != "HashExprs.scala") ||
            l.contains("cacheKey.isEmpty") || l.contains("cacheKey + \"#") =>
          s"${root.relativize(p)}:${i + 1}: ${l.trim}"
      }
    }
    assert(offences.isEmpty,
      "stage through Staging.memo, not a per-module memo:\n" +
        offences.mkString("\n"))
  }
}
