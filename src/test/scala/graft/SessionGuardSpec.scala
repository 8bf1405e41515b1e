package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every graft entrypoint builds its session through
  * [[SessionDefaults.session]], so correctness, the benchmark and the docs
  * share one session config: a hand-rolled builder in main source fails
  * here. */
class SessionGuardSpec extends AnyFunSuite {

  test("SparkSession.builder() appears in src/main only in SessionDefaults.scala") {
    val files = Files.walk(Paths.get("src/main"))
    val offenders = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "SessionDefaults.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(_.toString).toList
    finally files.close()
    assert(offenders.isEmpty, s"hand-rolled sessions: ${offenders.mkString(", ")}")
  }
}
