package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard for the one streaming-leg skeleton: the file source
  * (`maxFilesPerTrigger`) and the `foreachBatch` sink are written once, in
  * [[graft.stream.Leg]]; only the CDC path ([[graft.stream.Pipeline]],
  * [[graft.stream.PgCaptureStream]]) keeps its own.
  */
class LegSpec extends AnyFunSuite {

  test("guard: src/main starts file sources and foreachBatch sinks only through Leg and the CDC path") {
    val owners = Set("Leg.scala", "Pipeline.scala", "PgCaptureStream.scala")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, "the scan must see the main sources")
    val hits = for {
      f <- files
      if !owners(f.getFileName.toString)
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
      stripped = code.split("//", 2)(0)
      if stripped.contains("\"maxFilesPerTrigger\"") || stripped.contains(".foreachBatch")
    } yield s"$f:${i + 1}: $code"
    assert(hits.isEmpty,
      "streaming legs must read through Leg.files and sink through Leg.start:\n" +
        hits.mkString("\n"))
  }
}
