package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Operators take their knobs as explicit parameters or session conf
  * (`spark.graft.*`), never from JVM-global system properties or the
  * process environment: a knob read there cannot differ between two
  * sessions, and `spark-submit --conf` cannot reach it. */
class OperatorKnobSpec extends AnyFunSuite {

  test("no operator source reads sys.props or sys.env") {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"$root not found from the build root")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    assert(sources.nonEmpty)
    val offenders = for {
      f: Path <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.props") || line.contains("sys.env")
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
