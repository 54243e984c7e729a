package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every tool in `src/main` runs on [[Bench.benchSession]], so their
  * numbers compare; only `Main`, which reads the deployment's
  * `SPARK_MASTER`, builds its own session. */
class SessionDriftSpec extends AnyFunSuite {
  test("SparkSession.builder() is called only in Bench.benchSession and Main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    def isComment(line: String) = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    val calls: Map[String, Seq[String]] = {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder()") && !isComment(line) =>
          p.getFileName.toString -> s"$p:${i + 1}"
      }
    }.groupMap(_._1)(_._2)
    assert(calls.keySet == Set("Bench.scala", "Main.scala"), calls.values.flatten.mkString(", "))
    assert(calls("Bench.scala").size == 1, calls("Bench.scala").mkString(", "))
  }
}
