package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.example.data.Group
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageType

/**
 * The parquet file entry points of the file-backed event logs
 * ([[DurableEventLog]], [[ParquetEventLog]]), all on ONE JVM-wide Hadoop
 * `Configuration`.
 *
 * Why shared (measured on a 4-vCPU host): every `new Configuration()`
 * re-parses core-default.xml on first use, 7-9 ms, and two parquet entry
 * points build one of their own even when a conf is passed later —
 * single-argument `ParquetFileReader.open(InputFile)` (7-11 ms per footer
 * against 0.2-0.4 ms with prebuilt options) and `ParquetReader.builder(
 * readSupport, Path)`. With one conf per file, a durable sink epoch of 16
 * staged files spent 300-400 ms of its driver commit and most of each
 * write task rebuilding configurations. HarnessSpec keeps those three
 * calls in this file.
 *
 * The shared conf is READ-ONLY: nothing may `set` on it, because every
 * reader and writer in the JVM sees it. A per-read setting travels with the
 * reader instead — the column projection is the read support's, not a
 * conf key.
 */
private[sources] object ParquetIO {

  val conf: Configuration = new Configuration()

  /** Options for FOOTER opens only: their codec factory is shared and is
    * released by every reader's close, so page reads must not use them —
    * [[groupReader]] builds per-reader options from [[conf]] instead. */
  private val footerOptions: ParquetReadOptions = HadoopReadOptions.builder(conf).build()

  def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

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

  /** A new parquet file of `schema` groups at `file`. */
  def writer(file: Path, schema: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withType(schema).withConf(conf).build()

  /** Reads `projection`'s columns without a `PARQUET_READ_SCHEMA` conf key. */
  private final class ProjectedReadSupport(projection: MessageType) extends GroupReadSupport {
    override def init(context: InitContext): ReadSupport.ReadContext =
      new ReadSupport.ReadContext(ReadSupport.getSchemaForRead(context.getFileSchema, projection))
  }
}
