package graft.streaming

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Contract tests for [[LocalCheckpointFileManager]], mirroring the cases in
 * Spark's CheckpointFileManagerTests. This manager sits under every
 * streaming checkpoint (offset WAL, commit log, state deltas) in
 * Bench/Verify/tools/tests, so its rename/conflict/list semantics are the
 * exactly-once guard of the streaming commit protocol.
 */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def withManager(f: (LocalCheckpointFileManager, java.io.File) => Unit): Unit = {
    val dir = Files.createTempDirectory("lcfm-spec").toFile
    try f(new LocalCheckpointFileManager(new Path(dir.getAbsolutePath), new Configuration()), dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  private def write(m: LocalCheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(m: LocalCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try {
      val bytes = new Array[Byte](8192)
      val n = in.read(bytes)
      new String(bytes, 0, math.max(n, 0), UTF_8)
    } finally in.close()
  }

  test("createAtomic writes atomically and the content round-trips") {
    withManager { (m, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/0")
      write(m, p, "batch-0", overwrite = false)
      assert(m.exists(p))
      assert(read(m, p) == "batch-0")
      // no temp files left behind
      assert(dir.listFiles().map(_.getName).toSet == Set("0"))
    }
  }

  test("createAtomic(overwrite=false) on an existing target throws " +
    "FileAlreadyExistsException and preserves the original content") {
    withManager { (m, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/0")
      write(m, p, "winner", overwrite = false)
      // the concurrent-committer signal HDFSMetadataLog depends on
      val e = intercept[FileAlreadyExistsException] {
        write(m, p, "loser", overwrite = false)
      }
      assert(e.getMessage.contains("0"))
      assert(read(m, p) == "winner", "loser must not clobber the committed batch")
      // the loser's temp file is cleaned up
      assert(dir.listFiles().map(_.getName).toSet == Set("0"))
    }
  }

  test("two concurrent no-overwrite commits of one batch file: exactly one wins") {
    withManager { (m, dir) =>
      // many rounds, so an exists-then-rename window would be hit
      for (round <- 0 until 200) {
        val p = new Path(s"${dir.getAbsolutePath}/$round")
        val outs = Seq("a", "b").map { who =>
          val out = m.createAtomic(p, overwriteIfPossible = false)
          out.write(s"$who-$round".getBytes(UTF_8))
          who -> out
        }
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Unit]]()
        val threads = outs.map { case (who, out) =>
          new Thread(() => {
            barrier.await()
            results.put(who, try Right(out.close()) catch { case t: Throwable => Left(t) })
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        val winners = Seq("a", "b").filter(results.get(_).isRight)
        assert(winners.size == 1, s"round $round: winners $winners")
        val loser = Seq("a", "b").filterNot(winners.contains).head
        assert(results.get(loser) match {
          case Left(_: FileAlreadyExistsException) => true
          case _ => false
        }, s"round $round: loser got ${results.get(loser)}")
        assert(read(m, p) == s"${winners.head}-$round", s"round $round: winner's bytes")
      }
      assert(dir.listFiles().map(_.getName).toSet == (0 until 200).map(_.toString).toSet,
        "no temp file is left behind")
    }
  }

  test("createAtomic(overwrite=true) replaces an existing target") {
    withManager { (m, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/0")
      write(m, p, "old", overwrite = true)
      write(m, p, "new", overwrite = true)
      assert(read(m, p) == "new")
    }
  }

  test("cancel() leaves no temp file and does not create the target") {
    withManager { (m, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/0")
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(!m.exists(p))
      assert(dir.listFiles().isEmpty, "cancel must remove the temp file")
    }
  }

  test("an un-closed (killed mid-write) stream leaves no visible target") {
    withManager { (m, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/0")
      val out = m.createAtomic(p, overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      // simulate a crash: never close(); recovery must not see batch 0
      assert(!m.exists(p))
      val visible = m.list(new Path(dir.getAbsolutePath), new PathFilter {
        override def accept(path: Path): Boolean = !path.getName.startsWith(".")
      })
      assert(visible.isEmpty)
      out.cancel() // cleanup
    }
  }

  test("list on a missing path throws java.io.FileNotFoundException") {
    withManager { (m, dir) =>
      intercept[FileNotFoundException] {
        m.list(new Path(s"${dir.getAbsolutePath}/nope"), null)
      }
    }
  }

  test("list applies the PathFilter and skips files that vanish mid-listing") {
    withManager { (m, dir) =>
      val base = dir.getAbsolutePath
      write(m, new Path(s"$base/0"), "a", overwrite = false)
      write(m, new Path(s"$base/1"), "b", overwrite = false)
      Files.write(Paths.get(base, ".2.tmp"), "t".getBytes(UTF_8))
      val named = m.list(new Path(base), new PathFilter {
        override def accept(path: Path): Boolean = !path.getName.startsWith(".")
      })
      assert(named.map(_.getPath.getName).toSet == Set("0", "1"))
      assert(named.forall(_.getLen == 1))
      // a filter that rejects everything stats nothing, so a directory of
      // vanishing temp files cannot fail the listing
      val none = m.list(new Path(base), new PathFilter {
        override def accept(path: Path): Boolean = false
      })
      assert(none.isEmpty)
    }
  }

  test("delete is recursive and silent on missing paths") {
    withManager { (m, dir) =>
      val sub = new Path(s"${dir.getAbsolutePath}/state/0")
      m.mkdirs(sub)
      write(m, new Path(s"$sub/1.delta"), "d", overwrite = false)
      m.delete(new Path(s"${dir.getAbsolutePath}/state"))
      assert(!m.exists(new Path(s"${dir.getAbsolutePath}/state")))
      // deleting again (missing) is a no-op, not an error
      m.delete(new Path(s"${dir.getAbsolutePath}/state"))
      m.delete(new Path(s"${dir.getAbsolutePath}/never-existed"))
    }
  }

  test("open on a missing path throws FileNotFoundException; seek/read work") {
    withManager { (m, dir) =>
      intercept[FileNotFoundException] {
        m.open(new Path(s"${dir.getAbsolutePath}/nope"))
      }
      val p = new Path(s"${dir.getAbsolutePath}/0")
      write(m, p, "0123456789", overwrite = false)
      val in = m.open(p)
      try {
        in.seek(5L)
        assert(in.getPos == 5L)
        val b = new Array[Byte](5)
        assert(in.read(b) == 5)
        assert(new String(b, UTF_8) == "56789")
      } finally in.close()
    }
  }

  test("manager refuses non-local URIs") {
    intercept[IllegalArgumentException] {
      new LocalCheckpointFileManager(new Path("hdfs://nn/checkpoints"), new Configuration())
    }
  }
}
