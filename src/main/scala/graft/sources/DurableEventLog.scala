package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.internal.Logging

import types._

/**
 * DURABLE file-backed event log: the write-side twin of [[ParquetEventLog]]
 * (which serves driver-seeded parquet tables read-only). Events land as
 * parquet SEGMENT files per partition under a single-writer lease, so a
 * written log survives JVM exit and a fresh SparkSession re-reads exactly
 * what was committed — the reference's durable at-least-once send contract
 * (ref EventHubsWriter.scala:41-70) upgraded to idempotent-per-epoch by
 * on-disk commit markers (a replayed epoch is SKIPPED by marker existence,
 * not by in-process state, so idempotence holds across restarts too).
 *
 * Layout under the `durablePath` root:
 * {{{
 *   _meta/partitions                 one-line text: the partition count
 *   __lease                          single-writer lease (EpochIndex.withIndexLease)
 *   staging/<queryId>/<epoch>/t<taskPartition>-<taskId>/p<pid>.parquet
 *   commits/<queryId>-<epoch>        empty marker: epoch published
 *   segments/p=<pid>/seg-<000000000000N>.parquet
 * }}}
 *
 * Scale/commit protocol (the staged-publish shape of the in-memory sink,
 * [[InMemoryEventLog.publishStaged]], made durable):
 *  - write tasks stage their rows EXECUTOR-side as per-partition parquet
 *    files under their own task directory; the commit message carries only
 *    the directory name and a row count — data never moves to the driver;
 *  - driver commit, under the lease: if this epoch's marker exists the
 *    epoch is a replay and every staged attempt is swept; otherwise the
 *    successful tasks' files RENAME (metadata-only) into each partition's
 *    segment sequence in deterministic (taskPartition, taskId) order,
 *    counts reconcile against parquet footers, the marker is created, and
 *    the epoch's staging dir (failed/speculative attempts included) is
 *    deleted;
 *  - abort sweeps the epoch's staging but leaves it OPEN (no marker) so a
 *    restart legitimately re-runs it.
 *
 * A sequence number is a partition's cumulative row index across its
 * segments in segment-id order; segments are never rewritten, so bounds
 * and range reads are footer/listing arithmetic plus a bounded read of the
 * overlapping files — no Spark session, no driver-held data, same as the
 * read contract of [[ParquetEventLog]].
 *
 * Commit cost: every file goes through [[ParquetIO]] — one shared,
 * read-only Hadoop conf, parquet readers given explicit options, and for
 * local paths a FileSystem that sets file modes without forking `chmod` —
 * because a fresh `Configuration` costs 7-9 ms (with one per staged file,
 * footer and reader the driver commit of a 16-file epoch took 300-400 ms),
 * and Hadoop's local FileSystem forks once per file and directory it
 * creates, about 40 times per epoch. The commit then does work in
 * proportion to THIS epoch's files: each partition's next segment id
 * comes from a per-(path, partition) tail cache, checked only against the
 * existence of `seg-<next>` (an existing one means another writer
 * appended: re-list), and each renamed file's footer row count carries
 * over to its segment name, so nothing re-lists or re-opens the log's
 * older segments.
 */
object DurableEventLog extends EventLogClient with Logging {

  /** `EventLogConf` name format: durable:<path>#<partitions>. */
  private[sources] def parseName(name: String): (String, Int) = {
    val i = name.lastIndexOf('#')
    require(name.startsWith("durable:") && i > 0, s"not a durable log name: $name")
    (name.substring("durable:".length, i), name.substring(i + 1).toInt)
  }
  def logName(path: String, partitions: Int): String = s"durable:$path#$partitions"

  private[sources] val EventSchema: MessageType = MessageTypeParser.parseMessageType(
    """message graft_event {
      |  required int64 ts_micros;
      |  required binary body;
      |  optional binary publisher (UTF8);
      |  optional binary partition_key (UTF8);
      |  repeated binary prop_keys (UTF8);
      |  repeated binary prop_vals (UTF8);
      |  repeated binary sysprop_keys (UTF8);
      |  repeated binary sysprop_vals (UTF8);
      |}""".stripMargin)

  // ---- creation / validation ----

  private val metaCache = new ConcurrentHashMap[String, Int]()

  /** Create the log root (idempotent); an existing log must agree on the
    * partition count — silently serving a different partitioning would
    * re-route every partitionKey. */
  def create(path: String, partitions: Int): Unit = {
    require(partitions > 0, s"partitions must be positive, got $partitions")
    val fs = ParquetIO.fs(path)
    val meta = new Path(path, "_meta/partitions")
    if (fs.exists(meta)) {
      val existing = readPartitions(fs, meta)
      require(existing == partitions,
        s"durable event log at $path has $existing partitions; asked for $partitions")
    } else {
      fs.mkdirs(new Path(path, "segments"))
      val tmp = new Path(path, s"_meta/partitions.tmp${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(partitions.toString.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, meta)) {
        // concurrent creator won the rename: verify agreement
        fs.delete(tmp, false)
        val existing = readPartitions(fs, meta)
        require(existing == partitions,
          s"durable event log at $path has $existing partitions; asked for $partitions")
      }
    }
    metaCache.put(path, partitions)
  }

  private def readPartitions(fs: FileSystem, meta: Path): Int = {
    val in = fs.open(meta)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      .trim.toInt
    finally in.close()
  }

  def exists(path: String): Boolean =
    ParquetIO.fs(path).exists(new Path(path, "_meta/partitions"))

  /** Partition count from the on-disk meta (the truth; the conf's count is
    * only used at creation). Cached — immutable once created. */
  private def partitionsOf(path: String): Int =
    metaCache.computeIfAbsent(path, p => {
      val fs = ParquetIO.fs(p)
      val meta = new Path(p, "_meta/partitions")
      if (!fs.exists(meta)) throw new IllegalArgumentException(
        s"durable event-log path not initialized: $p (write to it first, or " +
          "call DurableEventLog.create)")
      readPartitions(fs, meta)
    })

  def validate(name: String): Unit = {
    val (path, confPartitions) = parseName(name)
    val actual = partitionsOf(path)
    require(actual == confPartitions,
      s"durable event log at $path has $actual partitions but the conf says " +
        s"$confPartitions — pass partitions=$actual (or omit the option)")
  }

  /** Drop cached metadata (tests; simulates a fresh process). */
  def invalidate(path: String): Unit = {
    metaCache.remove(path)
    val root = ParquetIO.fs(path).makeQualified(new Path(path)).toString + "/"
    footers.synchronized(footers.keySet().removeIf(_.startsWith(root)))
    segTail.keySet().removeIf(_._1 == path)
    ()
  }

  // ---- segment listing / footer arithmetic ----

  /** One file's footer summary: its row count, and its ts_micros max over
    * all row groups (Long.MaxValue when stats are absent, forcing the scan
    * — never a silently wrong skip). */
  private final case class Footer(rows: Long, tsMax: Long)

  /** Most footer summaries [[footers]] keeps: a few MB, and several times
    * the segments one benchmark run leaves. Past it a long-lived JVM evicts
    * the least recently used entry instead of keeping one per segment it
    * ever saw. */
  private[sources] val FooterCacheCap = 8192

  /** Footer summaries by qualified file path, least recently used first
    * (immutable once written — segments are never rewritten — so a cached
    * entry is exact). Guarded by its own lock; footers are read outside it. */
  private val footers = new java.util.LinkedHashMap[String, Footer](256, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Footer]): Boolean =
      size > FooterCacheCap
  }

  private def cacheFooter(key: String, footer: Footer): Unit =
    footers.synchronized { footers.put(key, footer); () }

  private[sources] def footerCacheSize: Int = footers.synchronized(footers.size)

  private def footerOf(f: Path): Footer = {
    val key = f.toString
    val hit = footers.synchronized(footers.get(key))
    if (hit != null) hit
    else { val read = readFooter(f); cacheFooter(key, read); read }
  }

  private def readFooter(f: Path): Footer = {
    val r = ParquetIO.openFooter(f)
    try {
      val tsMax =
        try {
          import scala.jdk.CollectionConverters._
          val idx = r.getFileMetaData.getSchema.getFieldIndex("ts_micros")
          val maxes = r.getFooter.getBlocks.asScala.map { b =>
            val s = b.getColumns.get(idx).getStatistics
            if (s == null || !s.hasNonNullValue) Long.MaxValue
            else s.genericGetMax.asInstanceOf[java.lang.Long].longValue()
          }
          if (maxes.isEmpty) Long.MinValue else maxes.max
        } catch {
          case scala.util.control.NonFatal(_) => Long.MaxValue
        }
      Footer(r.getRecordCount, tsMax)
    } finally r.close()
  }

  private def segDirOf(fs: FileSystem, path: String, pid: PartitionId): Path =
    fs.makeQualified(new Path(path, s"segments/p=$pid"))

  private def segFile(segDir: Path, id: Long): Path = new Path(segDir, f"seg-$id%012d.parquet")

  /** A partition's segment files in segment-id order (the seqNo order). */
  private def segmentsOf(fs: FileSystem, path: String, pid: PartitionId): Seq[Path] = {
    val dir = segDirOf(fs, path, pid)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("seg-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
  }

  private def segIdOf(p: Path): Long =
    p.getName.stripPrefix("seg-").stripSuffix(".parquet").toLong

  private def listedNextSegId(fs: FileSystem, path: String, pid: PartitionId): Long =
    segmentsOf(fs, path, pid).lastOption.map(segIdOf(_) + 1).getOrElse(0L)

  /** Next segment id per (path, partition) as the last commit in this JVM
    * left it. Trusted only while `seg-<next>` does not exist: if it does,
    * another writer appended, and the partition is listed again. */
  private val segTail = new ConcurrentHashMap[(String, PartitionId), java.lang.Long]()

  private def nextSegId(fs: FileSystem, path: String, pid: PartitionId): Long = {
    val cached = segTail.get((path, pid))
    if (cached != null && !fs.exists(segFile(segDirOf(fs, path, pid), cached))) cached
    else listedNextSegId(fs, path, pid)
  }

  // ---- EventLogClient ----

  override def partitionCount(name: String): Int = partitionsOf(parseName(name)._1)

  override def boundedSeqNos(name: String): Map[PartitionId, (SequenceNumber, SequenceNumber)] = {
    val (path, _) = parseName(name)
    val fs = ParquetIO.fs(path)
    (0 until partitionsOf(path)).map { pid =>
      val latest = segmentsOf(fs, path, pid).map(footerOf(_).rows).sum
      pid -> ((0L, latest))
    }.toMap
  }

  override def receive(name: String, pid: PartitionId, from: SequenceNumber, count: Long)
      : Iterator[(SequenceNumber, Event)] = {
    val (path, _) = parseName(name)
    val fs = ParquetIO.fs(path)
    val until0 = if (count > Long.MaxValue - from) Long.MaxValue else from + count
    val out = ArrayBuffer.empty[(SequenceNumber, Event)]
    var seq = 0L
    val segs = segmentsOf(fs, path, pid)
    var i = 0
    while (i < segs.length && seq < until0) {
      val f = segs(i)
      val n = footerOf(f).rows
      if (seq + n > from) { // overlaps the requested range
        val reader = ParquetIO.groupReader(f)
        try {
          var g = reader.read()
          var s = seq
          while (g != null && s < until0) {
            if (s >= from) out += s -> decode(g)
            s += 1
            g = if (s < until0) reader.read() else null
          }
        } finally reader.close()
      }
      seq += n
      i += 1
    }
    out.iterator
  }

  override def seekEnqueuedTime(name: String, pid: PartitionId, micros: Long): SequenceNumber = {
    // first seqNo whose enqueuedTime >= micros (InMemoryEventLog.seek's
    // exact semantics — no sortedness assumption); whole segments whose
    // footer ts max is below the target are skipped by arithmetic
    val (path, _) = parseName(name)
    val fs = ParquetIO.fs(path)
    var seq = 0L
    for (f <- segmentsOf(fs, path, pid)) {
      val footer = footerOf(f)
      if (footer.tsMax >= micros) {
        val reader = ParquetIO.groupReader(f)
        try {
          var g = reader.read()
          var s = seq
          while (g != null) {
            if (g.getLong("ts_micros", 0) >= micros) return s
            s += 1
            g = reader.read()
          }
        } finally reader.close()
      }
      seq += footer.rows
    }
    seq
  }

  /** One-event append: a single-row segment under the lease. Correct but
    * file-per-event — the sink's staged batches are the throughput path;
    * this exists for the facade/test convenience the in-memory log offers. */
  override def send(name: String, event: Event, pid: Option[PartitionId], key: Option[String])
      : Unit = {
    val (path, _) = parseName(name)
    val partitions = partitionsOf(path)
    val target = pid.getOrElse(
      key.map(k => math.floorMod(k.hashCode, partitions))
        .getOrElse(math.floorMod(sendRoundRobin.getAndIncrement(), partitions.toLong).toInt))
    require(target >= 0 && target < partitions,
      s"partition id $target out of range [0, $partitions)")
    val fs = ParquetIO.fs(path)
    graft.operators.EpochIndex.withIndexLease(fs, path, "durableSend") {
      val dir = segDirOf(fs, path, target)
      fs.mkdirs(dir)
      writeSegment(segFile(dir, listedNextSegId(fs, path, target)), Seq(event))
    }
    ()
  }
  private val sendRoundRobin = new java.util.concurrent.atomic.AtomicLong(0L)

  // ---- encode / decode ----

  private[sources] def writeSegment(file: Path, events: Iterable[Event]): Long = {
    val writer = ParquetIO.writer(file, EventSchema)
    val factory = new SimpleGroupFactory(EventSchema)
    var n = 0L
    try events.foreach { e =>
      val g = factory.newGroup()
      g.add("ts_micros", e.enqueuedTimeMicros)
      g.add("body", org.apache.parquet.io.api.Binary.fromConstantByteArray(
        if (e.body == null) Array.emptyByteArray else e.body))
      if (e.publisher != null) g.add("publisher", e.publisher)
      if (e.partitionKey != null) g.add("partition_key", e.partitionKey)
      e.properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
        g.add("prop_keys", k); g.add("prop_vals", v)
      }
      e.systemProperties.toSeq.sortBy(_._1).foreach { case (k, v) =>
        g.add("sysprop_keys", k); g.add("sysprop_vals", v)
      }
      writer.write(g)
      n += 1
    } finally writer.close()
    n
  }

  private def strOrNull(g: Group, field: String): String =
    if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)

  private def repeatedMap(g: Group, kf: String, vf: String): Map[String, String] = {
    val n = g.getFieldRepetitionCount(kf)
    if (n == 0) Map.empty
    else (0 until n).map(i => g.getString(kf, i) -> g.getString(vf, i)).toMap
  }

  private[sources] def decode(g: Group): Event = Event(
    body = g.getBinary("body", 0).getBytes,
    enqueuedTimeMicros = g.getLong("ts_micros", 0),
    publisher = strOrNull(g, "publisher"),
    partitionKey = strOrNull(g, "partition_key"),
    properties = repeatedMap(g, "prop_keys", "prop_vals"),
    systemProperties = repeatedMap(g, "sysprop_keys", "sysprop_vals"))

  // ---- staged writes (the sink's durable two-phase commit) ----

  private def stagingDir(path: String, queryId: String, epochId: Long) =
    new Path(path, s"staging/$queryId/$epochId")
  private def commitMarker(path: String, queryId: String, epochId: Long) =
    new Path(path, s"commits/$queryId-$epochId")

  /** EXECUTOR-side: persist one task's routed rows as per-partition parquet
    * files under the task's own staging directory. Returns the directory's
    * relative name (the commit-message key). Idempotent per attempt: the
    * dir is replaced wholesale so a retried task never double-stages. */
  private[sources] def stageTask(path: String, queryId: String, epochId: Long,
      taskPartition: Int, taskId: Long,
      rowsByPid: Map[Int, Seq[Event]]): String = {
    val fs = ParquetIO.fs(path)
    val taskDirName = s"t$taskPartition-$taskId"
    val dir = new Path(stagingDir(path, queryId, epochId), taskDirName)
    fs.delete(dir, true) // replace a previous attempt's partial staging
    fs.mkdirs(dir)
    rowsByPid.toSeq.sortBy(_._1).foreach { case (pid, events) =>
      if (events.nonEmpty) writeSegment(new Path(dir, s"p$pid.parquet"), events)
    }
    taskDirName
  }

  /** EXECUTOR-side abort: drop this task's staged files. */
  private[sources] def discardTask(path: String, queryId: String, epochId: Long,
      taskPartition: Int, taskId: Long): Unit = {
    val fs = ParquetIO.fs(path)
    fs.delete(new Path(stagingDir(path, queryId, epochId), s"t$taskPartition-$taskId"), true)
    ()
  }

  /** Whether this epoch already published — read from DISK, so replay
    * idempotence survives driver restarts (unlike the in-memory sink's
    * process map). */
  private[sources] def epochCommitted(path: String, queryId: String, epochId: Long): Boolean =
    ParquetIO.fs(path).exists(commitMarker(path, queryId, epochId))

  /** DRIVER-side commit under the lease: rename the successful tasks'
    * staged files into the partition segment sequences in the given order,
    * reconcile counts against footers, create the commit marker, sweep the
    * epoch's staging (failed/speculative attempts included). Returns rows
    * published. A marker already present = replayed epoch: staged
    * duplicates are swept and -1 is returned (nothing re-publishes). */
  private[sources] def publishStaged(path: String, queryId: String, epochId: Long,
      taskDirsInOrder: Seq[String]): Long = {
    val fs = ParquetIO.fs(path)
    graft.operators.EpochIndex.withIndexLease(fs, path, "durablePublish") {
      val epochDir = stagingDir(path, queryId, epochId)
      if (epochCommitted(path, queryId, epochId)) {
        fs.delete(epochDir, true)
        -1L
      } else {
        // next segment id per partition, assigned in task order
        val nextSeg = scala.collection.mutable.HashMap.empty[Int, Long]
        var published = 0L
        taskDirsInOrder.foreach { taskDir =>
          val dir = new Path(epochDir, taskDir)
          if (!fs.exists(dir)) throw new IllegalStateException(
            s"staged-write commit for $path epoch $epochId: task staging " +
              s"$taskDir vanished before commit")
          fs.listStatus(dir).map(_.getPath)
            .filter(p => p.getName.startsWith("p") && p.getName.endsWith(".parquet"))
            .sortBy(p => p.getName.stripPrefix("p").stripSuffix(".parquet").toInt)
            .foreach { f =>
              val pid = f.getName.stripPrefix("p").stripSuffix(".parquet").toInt
              val segDir = segDirOf(fs, path, pid)
              fs.mkdirs(segDir)
              val next = nextSeg.getOrElseUpdate(pid, nextSegId(fs, path, pid))
              val footer = readFooter(f)
              published += footer.rows
              val dest = segFile(segDir, next)
              // local rename(2) silently replaces an existing destination
              if (fs.exists(dest)) throw new IllegalStateException(
                s"staged-write commit for $path epoch $epochId: segment $dest " +
                  "already exists; refusing to replace it")
              if (!fs.rename(f, dest)) throw new IllegalStateException(
                s"staged-write commit for $path epoch $epochId: rename " +
                  s"$f -> $dest failed")
              cacheFooter(dest.toString, footer) // the footer moves with the file
              nextSeg.put(pid, next + 1)
            }
        }
        nextSeg.foreach { case (pid, next) => segTail.put((path, pid), next) }
        val marker = commitMarker(path, queryId, epochId)
        fs.mkdirs(marker.getParent)
        fs.create(marker, true).close()
        fs.delete(epochDir, true)
        published
      }
    }
  }

  /** DRIVER-side abort: sweep the epoch's staging, leave the epoch OPEN
    * (no marker) — a restart legitimately re-runs it. */
  private[sources] def sweepStaged(path: String, queryId: String, epochId: Long): Unit = {
    val fs = ParquetIO.fs(path)
    fs.delete(stagingDir(path, queryId, epochId), true)
    ()
  }
}
