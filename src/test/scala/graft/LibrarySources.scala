package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The engine's library sources for source guards: `SparkEntry.scala`
  * plus every file under the library packages, without the driver and
  * dev mains. Paths resolve against the build root, where sbt runs the
  * tests. */
object LibrarySources {

  val root: Path = Paths.get("src/main/scala/graft")

  private val packages = Seq("ops", "streaming", "functions", "io", "parse", "etl",
    "quality", "analytics", "sql")

  def files: Seq[Path] =
    root.resolve("SparkEntry.scala") +:
      packages.map(root.resolve).flatMap(d => Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq)

  /** `file:line: needle` for every line of `files` that contains one of
    * `needles`. */
  def lineHits(files: Seq[Path], needles: Seq[String]): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      n <- needles if line.contains(n)
    } yield s"$f:${i + 1}: $n"
}
