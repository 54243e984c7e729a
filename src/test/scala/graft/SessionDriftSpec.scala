package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lines of `src/main` that mention a name outside comments. */
object MainSources {
  /** For each file name, the `path:line` of every non-comment line
    * containing `text`. */
  def uses(text: String): Map[String, Seq[String]] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    def isComment(line: String) = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(text) && !isComment(line) =>
          p.getFileName.toString -> s"$p:${i + 1}"
      }
    }.groupMap(_._1)(_._2)
  }
}

/** Every tool in `src/main` runs on [[Bench.benchSession]], so their
  * numbers compare; only `Main`, which reads the deployment's
  * `SPARK_MASTER`, builds its own session. */
class SessionDriftSpec extends AnyFunSuite {
  test("SparkSession.builder() is called only in Bench.benchSession and Main") {
    val calls = MainSources.uses("SparkSession.builder()")
    assert(calls.keySet == Set("Bench.scala", "Main.scala"), calls.values.flatten.mkString(", "))
    assert(calls("Bench.scala").size == 1, calls("Bench.scala").mkString(", "))
  }
}

/** Every bz2 the program writes goes through the in-repo encoder
  * ([[graft.sources.Bz2OutputStream]]); the third-party encoders stay
  * in the specs, which use them to write files for the reader. */
class OneEncoderSpec extends AnyFunSuite {
  test("src/main constructs no CBZip2OutputStream or BZip2CompressorOutputStream") {
    val uses = Seq("CBZip2OutputStream(", "BZip2CompressorOutputStream(")
      .flatMap(MainSources.uses(_).values.flatten)
    assert(uses.isEmpty, uses.mkString(", "))
  }
}
