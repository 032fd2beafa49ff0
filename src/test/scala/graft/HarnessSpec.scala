package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private def scalaFiles(roots: String*): Seq[Path] = roots.flatMap { root =>
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("sessions are built in GraftSession.scala and nowhere else") {
    val sources = scalaFiles("src/main/scala", "src/test/scala")
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val copies = sources.filter((p: Path) => Files.readString(p).contains(needle))
      .map(_.toString).filterNot(_.endsWith("/GraftSession.scala"))
    assert(copies.isEmpty, s"build sessions through graft.GraftSession, not in $copies")
  }

  test("Hadoop confs and parquet readers are built in ParquetIO.scala and nowhere else") {
    // each of these parses core-default.xml again (7-9 ms a call); ParquetIO
    // holds the one shared conf and opens parquet files with explicit options
    val sources = scalaFiles("src/main/scala")
    assert(sources.exists(_.toString.endsWith("/sources/ParquetIO.scala")))
    val needles = Seq("new Configuration()", "ParquetFileReader.open(", "ParquetReader.builder(")
    val copies = for {
      p <- sources if !p.toString.endsWith("/sources/ParquetIO.scala")
      text = Files.readString(p)
      n <- needles if text.contains(n)
    } yield s"$p: $n"
    assert(copies.isEmpty, s"open parquet files through graft.sources.ParquetIO, not in $copies")
  }

  test("index manifests, leases and epoch directories are built in EpochIndex.scala alone") {
    // one commit protocol for the persisted indexes: no family writes its
    // own manifest, takes its own lease or names its own epoch directory
    val sources = scalaFiles("src/main/scala/graft/operators")
    assert(sources.exists(_.toString.endsWith("/operators/EpochIndex.scala")))
    val needles = Seq("manifest-", "__lease", "epoch=")
    val copies = for {
      p <- sources if !p.toString.endsWith("/operators/EpochIndex.scala")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      code = line.trim
      if !Seq("*", "//", "/*").exists(code.startsWith)
      n <- needles if code.contains(n)
    } yield s"$p:${i + 1}: $n"
    assert(copies.isEmpty, s"go through graft.operators.EpochIndex, not $copies")
  }

  test("Bench.r4 keeps a failed query's small negative marker negative") {
    assert(Bench.r4(-0.00003) == -0.0001)
    assert(Bench.r4(-1.23456) == -1.2346)
    assert(Bench.r4(1.23456) == 1.2346)
    assert(Bench.r4(0.00004) == 0.0)
  }
}
