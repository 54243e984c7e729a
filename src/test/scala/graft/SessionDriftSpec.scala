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

  /** Each `.collect()` under `operators/` outside DriverFinish, by file,
    * with what bounds it without the budget. */
  private val listedCollects = Seq(
    "BlockGrid.scala" -> "the vocabulary index: a LIMIT one past MaxBlockSweepVocab",
    "BpeTrain.scala" -> "a round's top pair: limit(1)",
    "BpeTrain.scala" -> "the texts, after the bpe_train decision",
    "Decontamination.scala" -> "benchmark n-grams: a LIMIT one past maxBroadcastGrams",
    "HeavyHitters.scala" -> "the Misra-Gries summaries: a LIMIT one past maxCandidates",
    "Mmr.scala" -> "the candidates, after the mmr decision",
    "Pca.scala" -> "the covariance upper triangle: dims²/2 rows",
    "Perceptron.scala" -> "an epoch's weight deltas: at most nBuckets rows",
    "Perceptron.scala" -> "the features, after the perceptron decision",
    "PrefixSum.scala" -> "the range-cut sample: SamplePerPart rows per partition",
    "RepeatedSequences.scala" -> "the texts, after the repeated_sequences decision",
    "RepeatedSequences.scala" -> "bucket bounds: two windows per bucket")

  test("every operator collect sits in DriverFinish or at a listed site") {
    val collects = MainSources.uses(".collect()").map { case (file, lines) =>
      file -> lines.count(_.contains("/operators/"))
    }.filter { case (file, n) => n > 0 && file != "DriverFinish.scala" }
    val listed = listedCollects.groupMapReduce(_._1)(_ => 1)(_ + _)
    assert(collects == listed)
    val caps = Seq("MaxCollectRows", "MaxSweepBroadcastBytes")
      .flatMap(MainSources.uses(_).values.flatten)
    assert(caps.isEmpty, caps.mkString(", "))
  }
}
