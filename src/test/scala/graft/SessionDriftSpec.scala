package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lines of `src/main` that mention a name outside comments. */
object MainSources {
  /** For each file name, the `path:line` of every non-comment line
    * containing `text`. */
  def uses(text: String): Map[String, Seq[String]] = matching(_.contains(text))

  /** For each file name, the `path:line` of every non-comment line
    * that satisfies `p`. */
  def matching(p: String => Boolean): Map[String, Seq[String]] = {
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
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if p(line) && !isComment(line) =>
          f.getFileName.toString -> s"$f:${i + 1}"
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

/** Every operator decides driver or distributed through
  * [[graft.operators.DriverFinish]]: one byte budget, one knob, one
  * event. Triangles' `DriverWedgeLimit` stays: it bounds CPU work, not
  * memory. */
class OneDriverFinishSpec extends AnyFunSuite {
  test("no operator keeps its own driver cap, limit parameter or env-var switch") {
    val cap = "Driver\\w*Limit".r
    val param = "driver\\w*Limit".r
    val params = MainSources.matching(param.findFirstIn(_).isDefined).values.flatten
    val inOperators = MainSources.matching { line =>
      cap.findAllIn(line).exists(_ != "DriverWedgeLimit") || line.contains("sys.env")
    }.values.flatten.filter(_.contains("/operators/"))
    val found = params ++ inOperators
    assert(found.isEmpty, found.mkString(", "))
  }
}
