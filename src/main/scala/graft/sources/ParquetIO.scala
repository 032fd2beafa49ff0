package graft.sources

import java.net.URI
import java.nio.file.{Files, FileAlreadyExistsException => NioFileAlreadyExists}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopStreams}
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.schema.MessageType

/**
 * The Hadoop entry points of every file graft itself writes: the
 * file-backed event logs ([[DurableEventLog]], [[ParquetEventLog]]) and the
 * leases and manifests of the persisted indexes (`EpochIndex.indexFs`), all
 * on ONE JVM-wide Hadoop `Configuration` and, for local paths, ONE
 * fork-free FileSystem.
 *
 * Why a shared conf (measured on a 4-vCPU host): every `new
 * Configuration()` re-parses core-default.xml on first use, 7-9 ms, and two
 * parquet entry points build one of their own even when a conf is passed
 * later — single-argument `ParquetFileReader.open(InputFile)` (7-11 ms per
 * footer against 0.2-0.4 ms with prebuilt options) and
 * `ParquetReader.builder(readSupport, Path)`. With one conf per file, a
 * durable sink epoch of 16 staged files spent 300-400 ms of its driver
 * commit and most of each write task rebuilding configurations.
 *
 * Why a fork-free local FileSystem: without the libhadoop native library,
 * Hadoop's `RawLocalFileSystem` sets the mode of every file and directory it
 * creates by forking `chmod`. A durable sink epoch creates about 40 of them
 * (staged segments and their `.crc`, staging directories, the commit marker,
 * the lease), and a JFR recording of one benchmark run counted 2,119
 * process starts; write tasks spent two thirds of their time off-CPU.
 * [[localFs]] is Hadoop's own `LocalFileSystem` (same `.crc` sidecars, same
 * umask, same modes, same layout) over a raw FileSystem that sets modes
 * with `Files.setPosixFilePermissions` and opens a create without overwrite
 * with `CREATE_NEW`, so a lease or manifest create is exclusive instead of
 * Hadoop's check-then-truncate. The path's scheme decides: `file:` (and a
 * scheme-less path whose default FileSystem is `file:`) gets [[localFs]],
 * every other scheme Hadoop's FileSystem for the caller's conf. Spark's own
 * writers keep the session's FileSystem; no global Hadoop setting changes.
 *
 * HarnessSpec keeps conf construction, parquet footer and reader opens, and
 * FileSystem lookups in this file.
 *
 * The shared conf is READ-ONLY: nothing may `set` on it, because every
 * reader and writer in the JVM sees it. A per-read setting travels with the
 * reader instead — the column projection is the read support's, not a
 * conf key.
 */
private[graft] object ParquetIO {

  val conf: Configuration = new Configuration()

  /** Options for FOOTER opens only: their codec factory is shared and is
    * released by every reader's close, so page reads must not use them —
    * [[groupReader]] builds per-reader options from [[conf]] instead. */
  private val footerOptions: ParquetReadOptions = HadoopReadOptions.builder(conf).build()

  /** The local FileSystem graft writes through: built once, never closed. */
  private lazy val localFs: FileSystem = {
    val lfs = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
    lfs.setConf(conf)
    lfs.initialize(URI.create("file:///"), conf)
    lfs
  }

  /** The FileSystem of `path` under `hadoopConf`: [[localFs]] when the path
    * resolves to `file:`, else Hadoop's own. */
  def fs(path: Path, hadoopConf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") localFs else path.getFileSystem(hadoopConf)
  }

  def fs(path: String): FileSystem = fs(new Path(path), conf)

  /** A reader for `file`'s footer (row counts, row-group statistics). */
  def openFooter(file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf), footerOptions)

  /** A record reader over `file`, optionally narrowed to `projection`'s
    * columns and filtered by `filter` (row groups by statistics, then
    * records). */
  def groupReader(file: Path, projection: Option[MessageType] = None,
      filter: Option[FilterPredicate] = None): ParquetReader[Group] = {
    val b = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(file, conf)) {
      override protected def getReadSupport(): ReadSupport[Group] =
        projection.fold(new GroupReadSupport())(new ProjectedReadSupport(_))
    }
    filter.foreach(f => b.withFilter(FilterCompat.get(f)))
    b.build()
  }

  /** A new parquet file of `schema` groups at `file`, written through
    * [[fs]]: `HadoopOutputFile` would look its FileSystem up in Hadoop's
    * cache, whose key ignores the conf. */
  def writer(file: Path, schema: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(new FsOutputFile(fs(file, conf), file))
      .withType(schema).withConf(conf).build()

  /** `HadoopOutputFile`'s create calls over a given FileSystem. */
  private final class FsOutputFile(fs: FileSystem, file: Path) extends OutputFile {
    private def open(overwrite: Boolean, blockSizeHint: Long): PositionOutputStream =
      HadoopStreams.wrap(fs.create(file, overwrite, 4096, fs.getDefaultReplication(file),
        math.max(fs.getDefaultBlockSize(file), blockSizeHint)))
    override def create(blockSizeHint: Long): PositionOutputStream = open(false, blockSizeHint)
    override def createOrOverwrite(blockSizeHint: Long): PositionOutputStream =
      open(true, blockSizeHint)
    override def supportsBlockSize(): Boolean = true
    override def defaultBlockSize(): Long = fs.getDefaultBlockSize(file)
    override def getPath: String = file.toString
  }

  /** Reads `projection`'s columns without a `PARQUET_READ_SCHEMA` conf key. */
  private final class ProjectedReadSupport(projection: MessageType) extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext =
      new ReadSupport.ReadContext(ReadSupport.getSchemaForRead(context.getFileSchema, projection))
  }
}

/** Hadoop's raw local FileSystem with two changes: modes are set through
  * `java.nio` instead of a forked `chmod` (every create and mkdir goes
  * through [[setPermission]] with the umask already applied), and a create
  * without overwrite claims its file with `CREATE_NEW` before Hadoop opens
  * it, so of two racing creators exactly one succeeds. */
private final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    val modes = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // PosixFilePermission's order is OWNER_READ (0400) ... OTHERS_EXECUTE (01)
    PosixFilePermission.values.foreach(m => if ((bits & (0x100 >> m.ordinal)) != 0) modes.add(m))
    Files.setPosixFilePermissions(pathToFile(p).toPath, modes)
    ()
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    claimed(f, overwrite)(
      super.create(f, permission, true, bufferSize, replication, blockSize, progress))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    claimed(f, overwrite)(super.create(f, true, bufferSize, replication, blockSize, progress))

  /** Without `overwrite`, creates `f` exclusively first (the file is ours
    * from then on) and removes it again if `open` fails. */
  private def claimed(f: Path, overwrite: Boolean)(
      open: => FSDataOutputStream): FSDataOutputStream =
    if (overwrite) open
    else {
      val parent = f.getParent
      if (parent != null && !mkdirs(parent))
        throw new java.io.IOException(s"Mkdirs failed to create $parent")
      val file = pathToFile(f).toPath
      try Files.createFile(file)
      catch {
        case _: NioFileAlreadyExists =>
          throw new FileAlreadyExistsException(s"File already exists: $f")
      }
      try open
      catch { case e: Throwable => Files.deleteIfExists(file); throw e }
    }
}
