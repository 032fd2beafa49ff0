package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  test("sessions are built in GraftSession.scala and nowhere else") {
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val copies = sources.filter((p: Path) => Files.readString(p).contains(needle))
      .map(_.toString).filterNot(_.endsWith("/GraftSession.scala"))
    assert(copies.isEmpty, s"build sessions through graft.GraftSession, not in $copies")
  }

  test("Bench.r4 keeps a failed query's small negative marker negative") {
    assert(Bench.r4(-0.00003) == -0.0001)
    assert(Bench.r4(-1.23456) == -1.2346)
    assert(Bench.r4(1.23456) == 1.2346)
    assert(Bench.r4(0.00004) == 0.0)
  }
}
