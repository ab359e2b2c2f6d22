package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source rules for `src/main`, checked by grep.
  *
  * Operators take their knobs as explicit parameters or session conf
  * (`spark.graft.*`), never from JVM-global system properties or the
  * process environment: a knob read there cannot differ between two
  * sessions, and `spark-submit --conf` cannot reach it.
  *
  * A window with no partition key runs in ONE task. Each one must say
  * on the line above, as `// single-task: <reason>`, why its input stays
  * small; row-grain running sums go through `PrefixSum` instead.
  *
  * `graft/Metrics.scala` is the only listener code in `src/main`: no
  * other source registers a `SparkListener` or `QueryExecutionListener`
  * or calls `Dataset.observe` except through `Metrics.observe`. */
class OperatorKnobSpec extends AnyFunSuite {

  /** Every line of every Scala source under `dir`, with its file. */
  private def sourceLines(dir: String): List[(Path, IndexedSeq[String])] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$root not found from the build root")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    assert(sources.nonEmpty)
    sources.map(f => f -> Files.readAllLines(f).asScala.toIndexedSeq)
  }

  private lazy val operatorLines = sourceLines("src/main/scala/graft/operators")

  test("no operator source reads sys.props or sys.env") {
    val offenders = for {
      (f, lines) <- operatorLines
      (line, n) <- lines.zipWithIndex
      if line.contains("sys.props") || line.contains("sys.env")
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("every unpartitioned window in an operator names why it may run " +
      "in one task") {
    val offenders = for {
      (f, lines) <- operatorLines
      (line, n) <- lines.zipWithIndex
      if line.contains("Window.orderBy(") ||
        line.contains("Window.partitionBy()")
      if n == 0 || !lines(n - 1).trim.matches("""// single-task: \S.*""")
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("only graft/Metrics.scala registers listeners or observes metrics") {
    val offenders = for {
      (f, lines) <- sourceLines("src/main/scala")
      if !f.endsWith(Paths.get("graft", "Metrics.scala"))
      (line, n) <- lines.zipWithIndex
      if line.contains("extends SparkListener") ||
        line.contains("new SparkListener") ||
        line.contains("QueryExecutionListener") ||
        line.replace("Metrics.observe(", "").contains(".observe(")
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
