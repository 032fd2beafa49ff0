package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream, EOFException}

/**
 * The replay floor, lock and checkpoint of the driver-side stream monitors
 * in [[StreamOps]]. `foreachBatch` is at-least-once, so a monitor folds each
 * epoch into its cumulative state at most once: an epoch at or below the
 * merged floor is skipped. Epoch ids restart at 0 in a new query, so a
 * monitor serves ONE query — [[reset]] it (or build a new one) before reuse.
 *
 * The checkpoint is `magic | config | reference | lastEpoch | state`. The
 * config and reference sections are the monitor's identity: [[restore]]
 * compares them byte for byte against this monitor's own, so a blob never
 * lands in a monitor that would bin, key or hash its counts differently.
 * Every method holds the monitor's lock (`this`), which its metrics read
 * under too. A subclass supplies the sections and its merge ([[fold]]).
 */
private[streaming] abstract class EpochFolded(magic: Int,
    referenceName: String = "snapshot") extends Serializable {
  private var lastEpoch: Long = Long.MinValue

  /** The parameters that decide how counts are binned, keyed or hashed. */
  protected def writeConfig(out: DataOutputStream): Unit
  /** The fitted reference side; monitors without one write nothing. */
  protected def writeReference(out: DataOutputStream): Unit = ()
  protected def writeState(out: DataOutputStream): Unit
  /** Parse the whole state section; the returned thunk installs it. */
  protected def readState(in: DataInputStream): () => Unit
  /** Empty the stream side (a fitted reference stays). */
  protected def clearState(): Unit

  /** Fold epoch `epochId`: `validate` checks the whole batch and returns
    * the merge. The floor advances only once it returns, so a batch that
    * fails validation leaves state and floor untouched and its retry
    * merges. A replayed epoch evaluates nothing and returns false. */
  protected final def fold(epochId: Long)(validate: => () => Unit): Boolean =
    synchronized {
      if (epochId <= lastEpoch) false
      else {
        val merge = validate
        lastEpoch = epochId
        merge()
        true
      }
    }

  /** Clear the stream side and the epoch floor, so the monitor can serve a
    * NEW query whose epoch ids restart at 0 (the old floor would skip them
    * all as replays). A fitted reference stays. */
  def reset(): Unit = synchronized {
    lastEpoch = Long.MinValue
    clearState()
  }

  /** Checkpoint the cumulative state and the epoch floor, headed by the
    * monitor's identity. Store it beside the stream's offset log: Spark
    * checkpoints offsets, not `foreachBatch` driver state. */
  def toBytes: Array[Byte] = synchronized {
    bytesOf { out =>
      out.writeInt(magic)
      writeConfig(out)
      writeReference(out)
      out.writeLong(lastEpoch)
      writeState(out)
    }
  }

  /** Restore state written by [[toBytes]]. Throws on a foreign blob, on a
    * config or reference that differs from this monitor's, and on a
    * truncated blob — in every case with the monitor unchanged. */
  def restore(bytes: Array[Byte]): Unit = synchronized {
    val kind = getClass.getSimpleName
    require(bytes.length >= 4,
      s"not a $kind checkpoint (${bytes.length} bytes)")
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val m = in.readInt()
    require(m == magic, s"not a $kind checkpoint (magic 0x${m.toHexString})")
    expect(in, bytesOf(writeConfig),
      s"checkpoint was written by a differently-configured $kind — its " +
        "counts would land in the wrong cells; rebuild the monitor with " +
        "the checkpoint's configuration")
    expect(in, bytesOf(writeReference),
      s"checkpoint was written against a DIFFERENT reference $referenceName " +
        "— refit from the checkpoint's reference snapshot")
    val epoch = in.readLong()
    val install = readState(in)
    lastEpoch = epoch
    install()
  }

  private def bytesOf(write: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    write(out)
    out.flush()
    bos.toByteArray
  }

  /** Consume the next `own.length` bytes and require they equal `own`. A
    * blob that ends inside the section throws the mismatch if the bytes it
    * has differ, and EOF otherwise. */
  private def expect(in: DataInputStream, own: Array[Byte],
      mismatch: => String): Unit = {
    val got = new Array[Byte](math.min(own.length, in.available()))
    in.readFully(got)
    require(java.util.Arrays.equals(got, 0, got.length, own, 0, got.length),
      mismatch)
    if (got.length < own.length)
      throw new EOFException("checkpoint ends inside its identity header")
  }

  /** `size | (key, value)*` in key order: the checkpoints' map layout. */
  protected final def writeMap[V](out: DataOutputStream,
      m: collection.Map[String, V])(value: V => Unit): Unit = {
    out.writeInt(m.size)
    m.toSeq.sortBy(_._1).foreach { case (k, v) => out.writeUTF(k); value(v) }
  }

  protected final def readMap[V](in: DataInputStream)(
      value: => V): Map[String, V] =
    Seq.fill(in.readInt())((in.readUTF(), value)).toMap
}
