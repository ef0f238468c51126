package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine ships six entry points. A one-off measurement belongs in
  * a spec, a Bench run (`SPARK_GRAFT_BENCH_ONLY`) or perfbench, not in
  * a new main under `src/main`; a main that must ship is added to
  * `kept` on purpose. */
class MainsSpec extends AnyFunSuite {

  private val kept = Set("Bench.scala", "Verify.scala", "ScaleUp.scala",
    "ExplainPlans.scala", "MakeAudioFixtures.scala", "MakeImageFixtures.scala")

  test("src/main holds exactly the six kept mains") {
    val sources = Files.walk(LibrarySources.root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50,
      s"scanned only ${sources.size} files from ${LibrarySources.root.toAbsolutePath}")
    val mains = sources.filter(f => Files.readString(f).contains("def main("))
      .map(f => LibrarySources.root.relativize(f).toString).toSet
    assert(mains === kept)
  }
}
