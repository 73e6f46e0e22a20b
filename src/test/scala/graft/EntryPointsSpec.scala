package graft

import org.scalatest.funsuite.AnyFunSuite

/** The program's surface stays small: a fixed set of runnable mains
  * and a fixed set of environment settings, the latter documented in
  * README's settings table. Measurement goes through perfbench, so a
  * new one-off main (or the setting that tunes it) fails here instead
  * of accumulating one change at a time. */
class EntryPointsSpec extends AnyFunSuite {
  private val mainTree = java.nio.file.Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    val walk = java.nio.file.Files.walk(mainTree)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => p.toString -> java.nio.file.Files.readString(p))
    } finally walk.close()
  }

  test("the objects defining a main are exactly Verify, Bench, Explain, GenData and VaultDemo") {
    val objectRe = """\bobject\s+(\w+)""".r
    val mainRe = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val mains = sources.flatMap { case (_, text) =>
      val objects = objectRe.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      mainRe.findAllMatchIn(text).map { m =>
        objects.filter(_._1 < m.start).lastOption.map(_._2).getOrElse("<top level>")
      }
    }
    assert(mains.sorted == Seq("Bench", "Explain", "GenData", "VaultDemo", "Verify"))
  }

  test("the GRAFT_*/SPARK_GRAFT_* settings read in src/main are the README's eleven") {
    val nameRe = """"((?:SPARK_)?GRAFT_[A-Z0-9_]+)"""".r
    val read = sources.flatMap { case (_, text) =>
      nameRe.findAllMatchIn(text).map(_.group(1))
    }.toSet
    val expected = Set(
      "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "GRAFT_BENCH_REPS", "GRAFT_BENCH_RUNS", "GRAFT_BENCH_OUT", "GRAFT_BENCH_ONLY",
      "GRAFT_VERIFY_ONLY", "GRAFT_INDEX_TABLES", "GRAFT_INDEX_BUCKETS",
      "GRAFT_CHECKPOINT_DIR", "GRAFT_STATE_STORE")
    assert(read == expected,
      s"added: ${read -- expected}; gone: ${expected -- read}")

    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
    val documented = """(?m)^\| `((?:SPARK_)?GRAFT_[A-Z0-9_]+)` \|""".r
      .findAllMatchIn(readme).map(_.group(1)).toSet
    assert(documented == expected,
      s"README table lists ${documented -- expected}, misses ${expected -- documented}")
  }
}
