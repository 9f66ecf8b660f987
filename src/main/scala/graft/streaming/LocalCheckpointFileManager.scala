package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID
import java.util.zip.CRC32

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus,
  FileSystem, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming checkpoint files (offset WAL, commit log, state-store deltas
  * and snapshots) written through `java.nio` on `file:` paths.
  *
  * Without `libhadoop`, Hadoop's local filesystem forks a `chmod` for every
  * file it creates and a `readlink` for every `FileContext.rename`, so
  * Spark's default manager pays a few process spawns per checkpoint file,
  * several files per micro-batch. This manager creates the file, its
  * Hadoop `.crc` sidecar and the publishing move with plain syscalls:
  *  - `createAtomic` writes `.<name>.<uuid>.tmp` plus the sidecar Hadoop
  *    would give that temp, then publishes data before sidecar (the order of
  *    `ChecksumFileSystem.rename`): with `overwriteIfPossible` by an atomic
  *    move, otherwise by a hard link (atomic, never replaces) so a second
  *    writer gets Hadoop's `FileAlreadyExistsException`, which
  *    `HDFSMetadataLog` reads as a concurrent query on the same checkpoint;
  *  - reads, listings, deletes and mkdirs stay on Hadoop's
  *    `LocalFileSystem` (none of them forks), so `open` still verifies the
  *    sidecar.
  *
  * Any other scheme gets the manager Spark would have picked itself.
  * Registered by [[StreamingConf.useLocalCheckpointFileManager]].
  */
final class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val impl: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    val local = if (scheme != "file") None else path.getFileSystem(hadoopConf) match {
      case fs: LocalFileSystem => Some(fs)
      case _ => None // fs.file.impl overridden: not ours to second-guess
    }
    local.map(new NioCheckpointFileManager(path, _)).getOrElse {
      val conf = new Configuration(hadoopConf)
      conf.unset(StreamingConf.CheckpointFileManagerKey)
      CheckpointFileManager.create(path, conf)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    impl.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = impl.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = impl.list(p, filter)
  def mkdirs(p: Path): Unit = impl.mkdirs(p)
  def exists(p: Path): Boolean = impl.exists(p)
  def delete(p: Path): Unit = impl.delete(p)
  def isLocal: Boolean = impl.isLocal
  def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

private final class NioCheckpointFileManager(root: Path, fs: LocalFileSystem)
    extends CheckpointFileManager {

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = fs.pathToFile(p).toPath
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
    new NioAtomicStream(target, tmp, overwriteIfPossible,
      new CrcSummingStream(tmp, fs.getBytesPerSum))
  }
  def open(p: Path): FSDataInputStream = fs.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
  def mkdirs(p: Path): Unit = fs.mkdirs(p)
  def exists(p: Path): Boolean = fs.exists(p)
  def delete(p: Path): Unit = fs.delete(p, true)
  def isLocal: Boolean = true
  def createCheckpointDirectory(): Path = {
    val q = fs.makeQualified(root)
    fs.mkdirs(q)
    q
  }
}

/** Publishes `tmp` (and its sidecar) as `target` on close; see the class
  * doc of [[LocalCheckpointFileManager]]. */
private final class NioAtomicStream(target: NioPath, tmp: NioPath, overwrite: Boolean,
                                    data: CrcSummingStream)
    extends CancellableFSDataOutputStream(data) {
  private var terminated = false

  /** Hadoop's sidecar name (`ChecksumFileSystem.getChecksumFile`). */
  private def crcOf(p: NioPath): NioPath = p.resolveSibling(s".${p.getFileName}.crc")

  override def close(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try {
        super.close()
        Files.write(crcOf(tmp), data.sidecar)
        if (overwrite) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        else {
          try Files.createLink(target, tmp)
          catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
          Files.delete(tmp)
        }
        Files.move(crcOf(tmp), crcOf(target), StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable => discard(); throw e
      }
    }
  }

  override def cancel(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try super.close() catch { case NonFatal(_) => }
      discard()
    }
  }

  private def discard(): Unit = {
    Files.deleteIfExists(tmp)
    Files.deleteIfExists(crcOf(tmp))
  }
}

/** Writes `file` and accumulates the Hadoop `.crc` sidecar for it: `crc\0`,
  * the bytes-per-checksum as an int, then one big-endian CRC32 per chunk
  * (`ChecksumFileSystem.ChecksumFSOutputSummer`'s format). */
private final class CrcSummingStream(file: NioPath, bytesPerSum: Int) extends OutputStream {
  private val out = new BufferedOutputStream(
    Files.newOutputStream(file, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
  private val crc = new CRC32
  private var inChunk = 0
  private val sums = new ByteArrayOutputStream()
  private val sumsOut = new DataOutputStream(sums)
  sumsOut.write(Array[Byte]('c', 'r', 'c', 0))
  sumsOut.writeInt(bytesPerSum)

  override def write(b: Int): Unit = {
    out.write(b)
    crc.update(b)
    inChunk += 1
    if (inChunk == bytesPerSum) endChunk()
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    out.write(b, off, len)
    var i = off
    while (i < off + len) {
      val n = math.min(off + len - i, bytesPerSum - inChunk)
      crc.update(b, i, n)
      inChunk += n
      i += n
      if (inChunk == bytesPerSum) endChunk()
    }
  }

  private def endChunk(): Unit = {
    sumsOut.writeInt(crc.getValue.toInt)
    crc.reset()
    inChunk = 0
  }

  override def flush(): Unit = out.flush()

  override def close(): Unit = {
    out.close()
    if (inChunk > 0) endChunk()
  }

  def sidecar: Array[Byte] = sums.toByteArray
}
