package graft.sink

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every sink write is issued, counted and guarded in `sink/Sinks.scala`:
  * a table write or a write-count observation anywhere else in the
  * program is a second write path with its own drift.
  */
class WritePathSpec extends AnyFunSuite {

  private val writes = Seq("saveAsTable(", "insertInto(", "Observation(")
  // stage counts of the curation funnel, not the count of a sink write
  private val observationOnly = Set("CurationPipeline.scala")

  test("saveAsTable, insertInto and sink observations appear only in Sinks.scala") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(Paths.get("graft/sink/Sinks.scala"))), root.toAbsolutePath)
    val strays = for {
      f: Path <- files if !f.endsWith(Paths.get("graft/sink/Sinks.scala"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      w <- writes if line.contains(w) &&
        !(w == "Observation(" && observationOnly(f.getFileName.toString))
    } yield s"$f:${i + 1}: $w"
    assert(strays.isEmpty, strays.mkString("\n"))
  }
}
