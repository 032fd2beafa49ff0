package graft.streaming

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.nio.file.{FileAlreadyExistsException => NioFileAlreadyExists, Files, StandardCopyOption}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/**
 * Checkpoint file manager for LOCAL (file:// or scheme-less) checkpoint
 * directories backed by plain `java.nio` file operations.
 *
 * Why it exists (measured, round 15): without the libhadoop native library,
 * Hadoop's FileContext/RawLocalFileSystem path that Spark's default
 * checkpoint manager uses FORKS A SUBPROCESS (`readlink` / `ls -ld` via
 * `org.apache.hadoop.util.Shell`) for every file-status lookup — and the
 * streaming commit protocol does several per micro-batch (offset WAL write,
 * commit-log write, state-delta finalize, retention cleanup). jstack
 * sampling of the bench's windowed workload attributed ~60% of the stream
 * thread's runnable time to these forks. On a POSIX filesystem an atomic
 * rename plus plain stat calls need no subprocess and no Hadoop FS layer at
 * all.
 *
 * Semantics match Spark's rename-based managers:
 *  - `createAtomic` writes to a hidden temp file in the target directory
 *    and renames it into place on `close()`; with `overwriteIfPossible =
 *    false` it hard-links it into place instead, so an existing target
 *    raises `FileAlreadyExistsException`, which `HDFSMetadataLog` uses to
 *    detect a concurrent committer.
 *  - `delete` is recursive and silent on missing paths; `list` on a missing
 *    path raises `FileNotFoundException` (callers distinguish the two).
 *
 * Scope guard: this manager refuses non-local URIs — production
 * deployments checkpointing to a DFS keep Spark's default manager; our
 * entry points (Bench/Verify/tools/tests) only ever checkpoint to local
 * disk or tmpfs, where this class removes the per-batch fork storm.
 */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  require(path.toUri.getScheme == null || path.toUri.getScheme == "file",
    s"LocalCheckpointFileManager handles only local paths, got $path — " +
      "use Spark's default checkpoint manager for DFS checkpoints")

  private def toFile(p: Path): File = new File(p.toUri.getPath)

  private def qualify(f: File): Path =
    new Path("file", null, f.getAbsolutePath)

  private def statusOf(f: File): FileStatus = {
    // one stat call; no permission/owner lookup (Spark's checkpoint code
    // never reads those, and populating them is what forks `ls`/`readlink`
    // in the Hadoop local FS)
    val attrs = Files.readAttributes(
      f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size(), attrs.isDirectory, 1, 33554432L,
      attrs.lastModifiedTime().toMillis, qualify(f))
  }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val dst = toFile(p)
    val dir = dst.getParentFile
    if (!dir.isDirectory) Files.createDirectories(dir.toPath)
    val tmp = new File(dir, s".${dst.getName}.${UUID.randomUUID()}.tmp")
    val out = new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp.toPath), 32768)
    new CancellableFSDataOutputStream(out) {
      private var terminated = false
      override def close(): Unit = this.synchronized {
        if (!terminated) {
          terminated = true
          super.close() // flushes + closes the buffered temp stream
          try {
            if (overwriteIfPossible) {
              Files.move(tmp.toPath, dst.toPath,
                StandardCopyOption.ATOMIC_MOVE,
                StandardCopyOption.REPLACE_EXISTING)
            } else {
              // On Linux, ATOMIC_MOVE without REPLACE_EXISTING still maps to
              // rename(2), which silently replaces an existing destination.
              // link(2) instead fails natively when the target exists, so of
              // two concurrent committers exactly one wins and the other gets
              // FileAlreadyExistsException (HDFSMetadataLog's
              // concurrent-committer signal) — no exists-then-rename window.
              Files.createLink(dst.toPath, tmp.toPath)
              Files.delete(tmp.toPath)
            }
          } catch {
            case e: NioFileAlreadyExists =>
              Files.deleteIfExists(tmp.toPath)
              throw new FileAlreadyExistsException(
                s"rename destination ${dst} already exists: ${e.getMessage}")
          }
        }
      }
      override def cancel(): Unit = this.synchronized {
        if (!terminated) {
          terminated = true
          try super.close() finally Files.deleteIfExists(tmp.toPath)
        }
      }
    }
  }

  override def open(p: Path): FSDataInputStream = {
    val f = toFile(p)
    if (!f.isFile) throw new FileNotFoundException(s"$p")
    val raf = new RandomAccessFile(f, "r")
    val base = new FSInputStream {
      override def seek(pos: Long): Unit = raf.seek(pos)
      override def getPos: Long = raf.getFilePointer
      override def seekToNewSource(targetPos: Long): Boolean = false
      override def read(): Int = raf.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        raf.read(b, off, len)
      override def available(): Int = {
        val rest = raf.length() - raf.getFilePointer
        if (rest > Int.MaxValue) Int.MaxValue else math.max(rest, 0L).toInt
      }
      override def close(): Unit = raf.close()
    }
    new FSDataInputStream(
      new org.apache.hadoop.fs.BufferedFSInputStream(base, 32768))
  }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val f = toFile(p)
    if (f.isDirectory) {
      val children = f.listFiles()
      if (children == null) throw new FileNotFoundException(s"$p")
      // Apply the PathFilter BEFORE statting (the filter only looks at the
      // name), and skip entries that vanish between listFiles() and the stat
      // — atomic-commit temp files, retention cleanup and concurrent state
      // maintenance delete files mid-listing, and NIO's NoSuchFileException
      // is NOT a java.io.FileNotFoundException, so callers' FNF handling
      // would not catch it and the micro-batch would fail.
      children.iterator
        .filter(c => filter == null || filter.accept(qualify(c)))
        .flatMap { c =>
          try Some(statusOf(c))
          catch { case _: java.nio.file.NoSuchFileException => None }
        }.toArray
    } else if (f.exists()) {
      val st = statusOf(f)
      if (filter == null || filter.accept(st.getPath)) Array(st)
      else Array.empty
    } else throw new FileNotFoundException(s"$p")
  }

  override def mkdirs(p: Path): Unit =
    Files.createDirectories(toFile(p).toPath)

  override def exists(p: Path): Boolean = toFile(p).exists()

  override def delete(p: Path): Unit = {
    // Silent on missing paths, like the FileSystem-based manager, but real
    // IO errors must propagate — swallowing them turns retention-cleanup
    // failures into silent unbounded checkpoint growth.
    val f = toFile(p)
    try {
      if (f.isDirectory) {
        org.apache.commons.io.FileUtils.deleteDirectory(f)
      } else {
        Files.deleteIfExists(f.toPath)
      }
    } catch {
      case _: FileNotFoundException | _: java.nio.file.NoSuchFileException => ()
    }
    ()
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val f = toFile(path)
    Files.createDirectories(f.toPath)
    qualify(f)
  }
}
