package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/**
 * The one commit protocol of the epoch-partitioned persisted indexes:
 * content-hash and MinHash ([[Dedup]]), perceptual hash ([[Multimodal]]),
 * the fuzzy segment index ([[Fuzzy]]) and BM25 corpus statistics
 * ([[CorpusOps]]). Each family supplies only its own part: the frames it
 * writes, the rule that merges them, and its params.
 *
 * Layout under an index `path`:
 *  - `<table>/epoch=<id>/`: parquet, one directory per table per epoch.
 *    Negative ids are generations written by save, batch append and
 *    compaction; ids >= 0 belong to stream epochs (and BM25's epoch-keyed
 *    appends);
 *  - `manifest-<v>`: the committed epochs, the family tag, its params and
 *    the schema of each table (`schema.<table>`, recorded when the table
 *    is first staged, so a scan needs no footer-reading inference job).
 *    Readers take the highest version that parses; the writer keeps the
 *    previous version as the fallback for a torn write;
 *  - `__lease`: the single-writer lease ([[withIndexLease]]).
 *
 * Data is written first, under an id no committed epoch uses, and the
 * manifest naming it last. A crash at any earlier point leaves directories
 * no manifest names: invisible to probes, overwritten by a replay, deleted
 * by the next save or compaction. This is the idempotent-sink model of the
 * Structured Streaming paper: an epoch becomes visible only once its work
 * is durable. A stream epoch ([[runEpoch]]) commits only after its output
 * write AND its index tables both succeeded, so the probe-visible index
 * never holds a document that is missing from the committed output.
 */
private[graft] object EpochIndex {

  /** One index family. `tag` is stored in the manifest and checked on
    * every read, `name` and `saveFn` make the refusal messages point at
    * the right builder, and `merge` folds a table's rows from many epochs
    * into one generation (default: full-row distinct). */
  final case class Family(tag: String, name: String, saveFn: String,
      tables: Seq[String],
      merge: (String, DataFrame) => DataFrame = (_, df) => df.distinct())

  /** A committed manifest: the visible epochs and the family's params. */
  final case class Manifest(family: String, epochs: Set[Long],
      params: Map[String, String]) {
    def param(key: String): String = params.getOrElse(key,
      throw new IllegalStateException(s"index manifest lacks param '$key'"))
  }

  /** Table name -> rows of one epoch of that table. */
  type Frames = Seq[(String, DataFrame)]

  // ---- the single-writer lease ----

  /** How old a lease file must be before a new writer may break it: a
    * writer that died without cleanup must not brick its index forever,
    * but a SLOW live compaction must not get its lease stolen mid-swap. */
  private[operators] val IndexLeaseStaleMs: Long = 30L * 60 * 1000

  /** Best-effort single-writer lease over an index path. The compaction
    * swap is crash-safe against a writer DYING, but two simultaneous
    * writers (two jobs sharing an index path — append while compacting,
    * two compactions) can interleave the checked renames into states no
    * single-writer recovery contemplates. Every index mutation therefore
    * takes `<path>/__lease` via create-exclusive first and fails LOUDLY
    * (with the holder's tag in the message) if another writer holds it;
    * a lease older than the stale threshold is treated as a dead
    * writer's leftover and broken. While the body runs, a daemon
    * HEARTBEAT thread re-touches the lease mtime every `staleMs / 3`, so
    * a live writer outliving the threshold (a corpus-scale compaction
    * can easily run past 30 min) keeps its lease fresh instead of having
    * it silently broken — and its swap corrupted — by a concurrent
    * writer. Best-effort by design: create-exclusive is atomic on HDFS
    * and on local paths through [[indexFs]] (`CREATE_NEW`); on stores
    * without atomic create the guard still refuses every
    * OBSERVABLE overlap — its job is turning a silent corruption into a
    * loud error, not distributed locking. */
  private[graft] def withIndexLease[T](fs: org.apache.hadoop.fs.FileSystem,
      path: String, op: String,
      staleMs: Long = IndexLeaseStaleMs)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val lease = new Path(s"$path/__lease")
    fs.mkdirs(new Path(path))
    val holderTag = s"$op@${System.currentTimeMillis()}"
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lease, false)
        try out.write(holderTag.getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    var acquired = tryAcquire()
    if (!acquired) {
      val age =
        try Some(System.currentTimeMillis() - fs.getFileStatus(lease).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      acquired = age match {
        // the holder released between our failed create and the stat: try
        // once more, without deleting — a third writer may hold it by now
        case None => tryAcquire()
        case Some(a) if a >= staleMs => fs.delete(lease, false); tryAcquire()
        case _ => false
      }
      if (!acquired) {
        val holder =
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
            new java.io.DataInputStream(fs.open(lease))), "UTF-8")
          catch { case _: Exception => "unknown" }
        throw new IllegalStateException(
          s"index at $path is being written by another job (lease held by " +
            s"$holder). Concurrent index mutations are unsupported; if that " +
            s"writer is dead, delete $lease (stale leases are broken " +
            s"automatically after ${staleMs / 60000} min)")
      }
    }
    val beat = new Thread(() => {
      try {
        while (!Thread.interrupted()) {
          // staleMs/5, not /3: the slack between the last beat and the
          // stale cutoff must absorb scheduler/GC starvation of this
          // thread on a saturated host — 4/5 of the window of margin
          // keeps a live lease fresh even when beats land late
          Thread.sleep(math.max(50L, staleMs / 5))
          // refresh the lease's mtime by REWRITING it (same holder tag):
          // setTimes is a silent no-op on FileSystems that don't override
          // it (object stores — S3 mtime is immutable), which would leave
          // the live writer unprotected exactly where the guard matters.
          // Rewriting our own held lease is safe (a thief only touches a
          // STALE lease, and this write makes it fresh) and updates mtime
          // on every store. Best-effort: any failure here means the guard
          // is already degraded — never kill the beat or fail the body.
          try {
            val out = fs.create(lease, true)
            out.write(holderTag.getBytes("UTF-8")); out.close()
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-index-lease-heartbeat-$op")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      // JOIN before deleting: a beat mid-rewrite would otherwise recreate
      // the lease AFTER the delete, locking the index for the stale
      // window against the next writer
      beat.interrupt()
      try beat.join(30000) catch { case _: InterruptedException => () }
      fs.delete(lease, false)
      ()
    }
  }

  /** The FileSystem of an index path under the session's Hadoop conf: the
    * fork-free local one for local paths ([[graft.sources.ParquetIO.fs]]). */
  private[graft] def indexFs(spark: SparkSession, path: String): FileSystem =
    graft.sources.ParquetIO.fs(new Path(path), spark.sparkContext.hadoopConfiguration)

  // ---- manifests ----

  private val Header = "graft-epoch-index v1"
  private val Trailer = "end"

  private def manifests(fs: FileSystem, path: String): Seq[(Int, Path)] = {
    val dir = new Path(path)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith("manifest-"))
        n.stripPrefix("manifest-").toIntOption.map(_ -> st.getPath)
      else None
    }.sortBy(_._1)
  }

  /** Body: header, `family=`, `epochs=`, one `param.<k>=` line per param
    * (values URL-encoded), trailer. A body without the trailer is a torn
    * write and does not parse. */
  private def render(m: Manifest): String =
    (Seq(Header, s"family=${m.family}",
      s"epochs=${m.epochs.toSeq.sorted.mkString(",")}") ++
      m.params.toSeq.sorted.map { case (k, v) =>
        s"param.$k=${java.net.URLEncoder.encode(v, "UTF-8")}" } ++
      Seq(Trailer)).mkString("", "\n", "\n")

  private def parse(body: String): Option[Manifest] = {
    val lines = body.split("\n").toSeq
    if (lines.headOption.contains(Header) && lines.lastOption.contains(Trailer)) {
      val kv = lines.slice(1, lines.length - 1).map { l =>
        val i = l.indexOf('=')
        if (i < 0) None else Some(l.take(i) -> l.drop(i + 1))
      }
      if (kv.exists(_.isEmpty)) None
      else {
        val m = kv.flatten.toMap
        val epochs = m.get("epochs").map(es =>
          if (es.isEmpty) Seq.empty else es.split(",").toSeq.map(_.toLongOption))
        for (family <- m.get("family"); es <- epochs if es.forall(_.isDefined))
          yield Manifest(family, es.flatten.toSet, m.collect {
            case (k, v) if k.startsWith("param.") =>
              k.stripPrefix("param.") -> java.net.URLDecoder.decode(v, "UTF-8")
          })
      }
    } else None
  }

  /** The newest manifest that parses, of whatever family. */
  private def readManifest(fs: FileSystem, path: String): Option[Manifest] =
    manifests(fs, path).reverse.view.flatMap { case (_, p) =>
      try parse(new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
        new java.io.DataInputStream(fs.open(p))), "UTF-8"))
      catch { case scala.util.control.NonFatal(_) => None }
    }.headOption

  /** The committed manifest of a `family` index at `path`; a path without
    * a manifest, or with another family's, is refused with a message
    * naming the family's builder. */
  def committed(spark: SparkSession, path: String, family: Family): Manifest =
    readManifest(indexFs(spark, path), path) match {
      case None => throw new IllegalStateException(
        s"$path is not a ${family.name} index (no readable manifest) — " +
          s"build one with ${family.saveFn} first")
      case Some(m) if m.family != family.tag => throw new IllegalStateException(
        s"$path is not a ${family.name} index (its manifest is a '${m.family}' " +
          s"index) — point at a ${family.saveFn} path or build one first")
      case Some(m) => m
    }

  /** The ONE manifest commit (callers hold the lease): write version
    * max+1, then best-effort delete all but the previous version. */
  private def commit(fs: FileSystem, path: String, m: Manifest): Unit = {
    val existing = manifests(fs, path)
    val v = existing.lastOption.map(_._1 + 1).getOrElse(1)
    val out = fs.create(new Path(s"$path/manifest-$v"), false)
    try out.write(render(m).getBytes("UTF-8"))
    finally out.close()
    existing.dropRight(1).foreach { case (_, old) =>
      try { fs.delete(old, false); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  // ---- epoch directories ----

  private def epochDir(path: String, table: String, epoch: Long): String =
    s"$path/$table/epoch=$epoch"

  private def epochsOnDisk(fs: FileSystem, path: String, table: String): Set[Long] = {
    val dir = new Path(s"$path/$table")
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("epoch="))
        n.stripPrefix("epoch=").toLongOption
      else None
    }.toSet
  }

  /** A negative id that no directory and no committed epoch uses, so a
    * new generation never collides with a stream epoch (>= 0). */
  private def freshGeneration(fs: FileSystem, path: String, family: Family): Long = {
    val taken = family.tables.flatMap(epochsOnDisk(fs, path, _)).toSet ++
      readManifest(fs, path).map(_.epochs).getOrElse(Set.empty)
    (taken + 0L).min - 1
  }

  /** Best-effort removal of epoch directories outside `keep`: crashed or
    * abandoned writes and superseded generations. Never load-bearing — an
    * unnamed directory is already invisible. */
  private def prune(fs: FileSystem, path: String, family: Family, keep: Set[Long]): Unit =
    family.tables.foreach { t =>
      (epochsOnDisk(fs, path, t) -- keep).foreach { e =>
        try { fs.delete(new Path(epochDir(path, t, e)), true); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

  /** Write one epoch's frames (overwriting whatever an earlier attempt
    * left under that still-uncommitted id), tables side by side. */
  private def stage(path: String, epoch: Long, frames: Frames): Unit =
    Exec.concurrently(frames.map { case (t, df) =>
      () => df.write.mode("overwrite").parquet(epochDir(path, t, epoch))
    })

  /** `m` with the schema of each staged table it does not hold yet: a
    * table's first staged epoch fixes the schema [[scan]] reads with. */
  private def withSchemas(m: Manifest, frames: Frames): Manifest =
    m.copy(params = frames.map { case (t, df) => schemaParam(t) -> df.schema.json }.toMap ++
      m.params)

  private def schemaParam(table: String): String = s"schema.$table"

  /** [[stage]], then the manifest to commit. */
  private def staged(path: String, epoch: Long, frames: Frames, m: Manifest): Manifest = {
    stage(path, epoch, frames)
    withSchemas(m, frames)
  }

  /** Rows of the committed epochs of one table, minus `excludeEpoch`, with
    * the `epoch` column. Only the named directories are listed, so
    * uncommitted writes are never read; a committed epoch missing from
    * disk (out-of-band damage) fails loudly instead of silently skewing
    * the probe. */
  def scan(spark: SparkSession, path: String, family: Family, m: Manifest,
      table: String, excludeEpoch: Option[Long] = None): DataFrame = {
    val epochs = (m.epochs -- excludeEpoch).toSeq.sorted
    require(epochs.nonEmpty, s"${family.name} index at $path holds no committed epochs")
    val missing = epochs.toSet -- epochsOnDisk(indexFs(spark, path), path, table)
    require(missing.isEmpty,
      s"${family.name} index at $path is damaged: committed epoch(s) " +
        s"${missing.toSeq.sorted.mkString(",")} missing from $table/ — rebuild " +
        s"with ${family.saveFn} or replay the epochs")
    // a manifest written before tables carried their schema falls back to
    // inference, which costs one footer-reading job per scan
    val reader = m.params.get(schemaParam(table)).fold(spark.read)(json =>
      spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]))
    reader.option("basePath", s"$path/$table")
      .parquet(epochs.map(epochDir(path, table, _)): _*)
  }

  // ---- mutations ----

  /** Create (or re-create wholesale) an index: write a fresh generation
    * (`frames` get the new manifest, so save, append and stream epochs
    * share one frame builder), commit a manifest naming only it, prune
    * everything else. A failed save leaves the previous index intact and
    * serving. */
  def save(spark: SparkSession, path: String, family: Family,
      params: Map[String, String])(frames: Manifest => Frames): Unit = {
    val fs = indexFs(spark, path)
    withIndexLease(fs, path, family.saveFn) {
      val g = freshGeneration(fs, path, family)
      val m = Manifest(family.tag, Set(g), params)
      commit(fs, path, staged(path, g, frames(m), m))
      prune(fs, path, family, Set(g))
    }
  }

  /** Batch append: a fresh generation holding `frames` (built from the
    * stored params, read under the lease), then the manifest naming it. */
  def append(spark: SparkSession, path: String, family: Family, op: String)(
      frames: Manifest => Frames): Unit = {
    val fs = indexFs(spark, path)
    withIndexLease(fs, path, op) {
      val m = committed(spark, path, family)
      val g = freshGeneration(fs, path, family)
      commit(fs, path, staged(path, g, frames(m), m.copy(epochs = m.epochs + g)))
    }
  }

  /** Stage and commit one epoch under the lease. An epoch the manifest
    * already names is uncommitted first, so a replay never rewrites a
    * visible directory; `work` gets the params, runs between the
    * (un)commits and returns them with the staged tables' schemas. */
  private def commitEpoch(spark: SparkSession, path: String, family: Family,
      epochId: Long)(work: Manifest => Manifest): Unit = {
    val fs = indexFs(spark, path)
    withIndexLease(fs, path, s"${family.name} epoch $epochId") {
      val m0 = committed(spark, path, family)
      val m = m0.copy(epochs = m0.epochs - epochId)
      if (m0.epochs(epochId)) commit(fs, path, m)
      commit(fs, path, work(m).copy(epochs = m.epochs + epochId))
    }
  }

  /** One epoch's admission outside a stream: stage its frames, commit. */
  def admitEpoch(spark: SparkSession, path: String, family: Family,
      epochId: Long)(frames: Manifest => Frames): Unit =
    commitEpoch(spark, path, family, epochId)(m => staged(path, epochId, frames(m), m))

  /** What a stream epoch's probe hands on: the survivors `writeBatch`
    * sees, the index frames of those survivors (cut with the params read
    * under the lease), and the release of whatever the probe keeps cached,
    * run when the epoch ends however it ends. */
  final case class Probed[D](fresh: D, frames: Manifest => Frames, release: () => Unit)

  /** One stream epoch: probe the index with this epoch excluded, then run
    * `writeBatch` and stage the survivors' tables side by side, and commit
    * the epoch only after both succeeded. A replay (same epoch id) probes
    * the same committed state and recomputes the same survivors; an epoch
    * that failed anywhere before its commit is invisible, so abandoning
    * its checkpoint suppresses nothing that never reached the output. */
  private[graft] def runProbed[D](batch: DataFrame, epochId: Long, path: String,
      family: Family, admit: Boolean)(probe: (DataFrame, Long) => Probed[D])(
      writeBatch: (D, Long) => Unit): Unit = {
    val p = probe(batch, epochId)
    try {
      if (!admit) writeBatch(p.fresh, epochId)
      else commitEpoch(batch.sparkSession, path, family, epochId) { m =>
        val frames = p.frames(m)
        Exec.concurrently(writeBatch(p.fresh, epochId), stage(path, epochId, frames))
        withSchemas(m, frames)
      }
    } finally p.release()
  }

  /** [[runProbed]] for a lazy probe: its survivors are persisted, so
    * `writeBatch` and the staged frames read the same rows. */
  private[graft] def runEpoch[D <: Dataset[_]](batch: DataFrame, epochId: Long,
      path: String, family: Family, admit: Boolean)(probe: (DataFrame, Long) => D)(
      frames: (D, Manifest) => Frames)(writeBatch: (D, Long) => Unit): Unit =
    runProbed(batch, epochId, path, family, admit)(persistedProbe(probe, frames))(writeBatch)

  private def persistedProbe[D <: Dataset[_]](probe: (DataFrame, Long) => D,
      frames: (D, Manifest) => Frames)(batch: DataFrame, epochId: Long): Probed[D] = {
    val fresh = probe(batch, epochId)
    fresh.persist()
    Probed(fresh, m => frames(fresh, m), () => { fresh.unpersist(); () })
  }

  /** [[runProbed]] as a stream's `foreachBatch` body. One live stream per
    * index path: epoch ids restart with each checkpoint. */
  def foreachProbed[D](stream: DataFrame, path: String, family: Family,
      admit: Boolean)(probe: (DataFrame, Long) => Probed[D])(
      writeBatch: (D, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, epochId: Long) =>
      runProbed(batch, epochId, path, family, admit)(probe)(writeBatch)
    }

  /** [[foreachProbed]] for a lazy probe ([[runEpoch]]). */
  def foreachEpoch[D <: Dataset[_]](stream: DataFrame, path: String,
      family: Family, admit: Boolean)(probe: (DataFrame, Long) => D)(
      frames: (D, Manifest) => Frames)(writeBatch: (D, Long) => Unit)
      : DataStreamWriter[Row] =
    foreachProbed(stream, path, family, admit)(persistedProbe(probe, frames))(writeBatch)

  /** Merge the committed epochs into one fresh generation (each table by
    * the family's merge rule), flip the manifest to it, prune the rest.
    * A crash before the flip leaves the previous manifest serving; the
    * orphan generation goes with the next prune. Only run while no stream
    * owns the index. Returns the number of epochs merged, 0 if at most
    * one was committed. */
  def compact(spark: SparkSession, path: String, family: Family, op: String): Int = {
    val fs = indexFs(spark, path)
    withIndexLease(fs, path, op) {
      val m = committed(spark, path, family)
      val n = m.epochs.size
      if (n <= 1) { prune(fs, path, family, m.epochs); 0 }
      else {
        val g = freshGeneration(fs, path, family)
        commit(fs, path, staged(path, g, family.tables.map(t =>
          t -> family.merge(t, scan(spark, path, family, m, t).drop("epoch"))),
          m.copy(epochs = Set(g))))
        prune(fs, path, family, Set(g))
        n
      }
    }
  }
}
