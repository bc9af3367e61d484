package graft.pipeline

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Fork-free checkpoint I/O for `file:` checkpoints, installed through
  * Spark's `spark.sql.streaming.checkpointFileManagerClass` extension point
  * by every streaming loop the engine starts ([[LocalCheckpointFileManager.install]]).
  *
  * Why: without libhadoop, Hadoop's `RawLocalFileSystem` forks a `chmod`
  * process on every create and a `readlink` process on every
  * `FileContext.rename`, so Spark's default manager pays ~31 ms per
  * checkpoint file — and a micro-batch writes about eleven of them per
  * pipeline (offsets, commits, source log, state deltas and their
  * checksums). Here a file costs ~0.2 ms.
  *
  * On `file:` paths:
  *   - `createAtomic` writes a hidden temp file and its Hadoop `.crc`
  *     sidecar with java.nio (the bytes `LocalFileSystem` writes: `crc\0`,
  *     the chunk size, one big-endian CRC32 per chunk), then publishes it
  *     with `rename(2)` (overwrite) or `link(2)` (no overwrite — fails with
  *     [[FileAlreadyExistsException]] when the target exists, no
  *     check-then-move window). `cancel()` removes the temp files and never
  *     touches the target.
  *   - `open`, `exists` and `list` go through the checksummed
  *     `LocalFileSystem` (none of them fork), so sidecars written by either
  *     manager are verified on read; `list` hides temp files and sidecars.
  *
  * Every other scheme is handed to the manager Spark would have picked
  * without this class installed. Thread-safe: no mutable state outside
  * one stream, and Spark's state-checksum layer writes from a pool.
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[pipeline] val underlying: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case fs: LocalFileSystem => new LocalCheckpointFileManager.Nio(path, fs)
      case _ => LocalCheckpointFileManager.sparkDefault(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the session's checkpoint manager unless a manager class is
    * already configured (session conf or Hadoop conf) — a user's choice
    * wins. Session-wide and idempotent, like
    * [[SyncPipeline.applyStateStoreConf]]; call before `.start()`.
    */
  def install(spark: SparkSession): Unit =
    if (spark.sessionState.newHadoopConf().get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** The manager Spark picks for `path` when no class is configured. */
  private def sparkDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private val TempSuffix = ".tmp"

  private def isTemp(name: String): Boolean =
    name.startsWith(".") && name.endsWith(TempSuffix)

  private final class Nio(root: Path, fs: LocalFileSystem) extends CheckpointFileManager {
    private val bytesPerSum = fs.getBytesPerSum

    private def local(p: Path): JPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val target = local(p)
      Files.createDirectories(target.getParent)
      val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}$TempSuffix")
      new AtomicOutput(target, tmp, overwriteIfPossible, bytesPerSum)
    }

    override def open(p: Path): FSDataInputStream = fs.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] =
      fs.listStatus(p, (q: Path) => !isTemp(q.getName) && filter.accept(q))

    override def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

    override def exists(p: Path): Boolean = fs.exists(p)

    // recursive, sidecars included; a missing path is not an error
    override def delete(p: Path): Unit = fs.delete(p, true)

    override def isLocal: Boolean = true

    override def createCheckpointDirectory(): Path = {
      mkdirs(root)
      fs.makeQualified(root)
    }
  }

  /** Hadoop's sidecar name for a local file: `.<name>.crc`. */
  private def sidecar(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  /** Data bytes go to the file; a CRC32 per `bytesPerSum`-byte chunk
    * accumulates into the sidecar image.
    */
  private final class Summed(out: OutputStream, bytesPerSum: Int) extends OutputStream {
    private val crc = new CRC32
    private var inChunk = 0
    private val sumBytes = new ByteArrayOutputStream
    private val sums = new DataOutputStream(sumBytes)
    sums.write("crc\u0000".getBytes(StandardCharsets.US_ASCII))
    sums.writeInt(bytesPerSum)

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def write(b: Int): Unit = {
      out.write(b)
      crc.update(b)
      inChunk += 1
      if (inChunk == bytesPerSum) endChunk()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      val end = off + len
      while (o < end) {
        val n = math.min(end - o, bytesPerSum - inChunk)
        crc.update(b, o, n)
        o += n
        inChunk += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }

    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()

    /** The complete sidecar; call once, after the last write. */
    def sidecarBytes: Array[Byte] = {
      if (inChunk > 0) endChunk()
      sumBytes.toByteArray
    }
  }

  private final class AtomicOutput(target: JPath, tmp: JPath, overwrite: Boolean, summed: Summed)
      extends CancellableFSDataOutputStream(summed) {

    // FileOutputStream, not an NIO channel: a channel closes itself when
    // the writing thread is interrupted (a stopping query), failing a
    // checkpoint write the Hadoop stream would have finished
    def this(target: JPath, tmp: JPath, overwrite: Boolean, bytesPerSum: Int) =
      this(target, tmp, overwrite, new Summed(
        new BufferedOutputStream(new FileOutputStream(tmp.toFile), 1 << 16), bytesPerSum))

    private var terminated = false

    private def removeTemps(): Unit = {
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(sidecar(tmp))
    }

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          super.close()
          val crcOut = new FileOutputStream(sidecar(tmp).toFile)
          try crcOut.write(summed.sidecarBytes) finally crcOut.close()
          if (overwrite) {
            // a stale sidecar must never pair with the new bytes
            Files.deleteIfExists(sidecar(target))
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, tmp)
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                throw new FileAlreadyExistsException(s"$target already exists")
            }
            Files.delete(tmp)
          }
          // the target is ours now: replace whatever sidecar sits beside it
          // (a leftover from a deleted file would fail every checked read)
          Files.move(sidecar(tmp), sidecar(target), StandardCopyOption.ATOMIC_MOVE)
        } catch {
          case e: Throwable =>
            removeTemps()
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try summed.close() catch { case _: java.io.IOException => () }
        removeTemps()
      }
    }
  }
}
