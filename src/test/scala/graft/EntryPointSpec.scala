package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine's runnable surface is three mains: the benchmark
  * ([[Bench]]), the correctness dump ([[Verify]]) and the parity dump CLI
  * ([[DumpMain]]). A one-off probe main belongs in a scratch checkout or
  * in `perfbench`, not in `src/main`, where it would compile, ship and
  * age with the engine. Reads the sources relative to the checkout the
  * suite runs from (sbt forks tests in the project directory).
  */
class EntryPointSpec extends AnyFunSuite {

  test("src/main declares def main only in Bench, Verify and DumpMain") {
    val root = Paths.get("src", "main", "scala").toAbsolutePath
    assert(Files.isDirectory(root), s"$root is not a directory: run the suite from the checkout root")
    val walk = Files.walk(root)
    val mains =
      try
        walk.iterator.asScala
          .filter(_.toString.endsWith(".scala"))
          .toSeq
          .flatMap { p =>
            val decls = "\\bdef main\\(".r.findAllIn(Files.readString(p)).size
            Seq.fill(decls)(root.relativize(p).toString)
          }
          .sorted
      finally walk.close()
    assert(mains === Seq("graft/Bench.scala", "graft/DumpMain.scala", "graft/Verify.scala"))
  }
}
