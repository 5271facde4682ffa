package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every entry point builds its session through [[GraftSession]]: a
  * second `SparkSession.builder()` would run with a different conf
  * surface (ANSI mode, UTC, ns-parquet tolerance) from the tests. */
class BuilderGuardSpec extends AnyFunSuite {
  test("SparkSession.builder() appears only in GraftSession.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => p.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.builder, not: ${offenders.mkString(", ")}")
  }
}
