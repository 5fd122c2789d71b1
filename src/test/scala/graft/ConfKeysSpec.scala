package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` key the engine reads is documented: the string
  * literals under `src/main` must name exactly the keys in README.md's
  * "Configuration keys" table (key, default, live user), so a new knob
  * cannot land undocumented and a deleted one cannot linger there; and
  * every literal under `src/test` must be one of them, since a test
  * setting a deleted key is a silent no-op that runs only one gear. */
class ConfKeysSpec extends AnyFunSuite {
  private val Literal = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r
  private val TableRow = "^\\| `(spark\\.graft\\.[^`]+)` \\|".r

  private def sourceKeys(root: Path): Set[String] = {
    val files = Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(f => Literal.findAllMatchIn(Files.readString(f)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  test("README's configuration-key table lists exactly the keys src/main reads") {
    val code = sourceKeys(Paths.get("src/main"))
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
      .flatMap(l => TableRow.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(code.nonEmpty, "no spark.graft.* literals found under src/main")
    assert((code -- readme).isEmpty, s"undocumented keys: ${(code -- readme).toSeq.sorted}")
    assert((readme -- code).isEmpty, s"documented keys no code reads: ${(readme -- code).toSeq.sorted}")
  }

  test("every spark.graft.* key named under src/test is one src/main reads") {
    val stale = sourceKeys(Paths.get("src/test")) -- sourceKeys(Paths.get("src/main"))
    assert(stale.isEmpty, s"tests name keys the engine never reads: ${stale.toSeq.sorted}")
  }
}
