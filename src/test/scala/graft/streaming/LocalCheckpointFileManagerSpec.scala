package graft.streaming

import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The `file:` checkpoint manager against Hadoop's own local filesystem:
  * what it publishes must read back (and verify) through
  * `FileSystem.getLocal`, exactly like a file Spark's default manager wrote. */
class LocalCheckpointFileManagerSpec extends AnyFlatSpec with Matchers {

  private val conf = new Configuration()
  private def local = FileSystem.getLocal(conf)

  private def fresh(): (NioPath, LocalCheckpointFileManager) = {
    val dir = Files.createTempDirectory("ckpt-fm")
    (dir, new LocalCheckpointFileManager(new Path(dir.toUri), conf))
  }
  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
  private def put(fm: LocalCheckpointFileManager, p: Path, bytes: Array[Byte],
                  overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }
  private def read(p: Path): Array[Byte] = {
    val in = local.open(p)
    try in.readAllBytes() finally in.close()
  }
  // 1300 bytes = two full 512-byte checksum chunks and a partial one
  private val payload = Array.tabulate[Byte](1300)(i => (i * 31 + 7).toByte)

  "LocalCheckpointFileManager" should "write through java.nio on file: paths only" in {
    val (dir, fm) = fresh()
    fm.impl shouldBe a[NioCheckpointFileManager]
    fm.isLocal shouldBe true
    // a file: path whose filesystem is not Hadoop's LocalFileSystem keeps
    // Spark's own manager, as every non-file: scheme does
    val raw = new Configuration(conf)
    raw.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    raw.setBoolean("fs.file.impl.disable.cache", true)
    new LocalCheckpointFileManager(new Path(dir.toUri), raw).impl shouldBe
      a[FileContextBasedCheckpointFileManager]
  }

  it should "publish a file only on close, with its sidecar and no temp left" in {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write(payload)
    fm.exists(p) shouldBe false
    names(dir).filterNot(_.endsWith(".tmp")) shouldBe empty
    out.close()
    names(dir) shouldBe Set("0", ".0.crc")
    read(p) shouldBe payload
  }

  it should "leave neither the file nor its temp after cancel" in {
    val (dir, fm) = fresh()
    val out = fm.createAtomic(new Path(dir.toUri.toString, "0"), overwriteIfPossible = false)
    out.write(payload)
    out.cancel()
    out.close() // a cancelled stream never publishes
    names(dir) shouldBe empty
  }

  it should "refuse to replace an existing file without overwrite, keeping it intact" in {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "7")
    put(fm, p, payload, overwrite = false)
    val crcBefore = Files.readAllBytes(dir.resolve(".7.crc"))
    a[FileAlreadyExistsException] should be thrownBy
      put(fm, p, "other".getBytes("UTF-8"), overwrite = false)
    names(dir) shouldBe Set("7", ".7.crc")
    Files.readAllBytes(dir.resolve(".7.crc")) shouldBe crcBefore
    read(p) shouldBe payload
  }

  it should "replace an existing file with overwrite" in {
    val (_, fm) = fresh()
    val p = new Path(fm.createCheckpointDirectory(), "snap.zip")
    put(fm, p, payload, overwrite = true)
    put(fm, p, "second".getBytes("UTF-8"), overwrite = true)
    new String(read(p), "UTF-8") shouldBe "second"
  }

  it should "write the same sidecar Hadoop's LocalFileSystem writes" in {
    val (dir, fm) = fresh()
    put(fm, new Path(dir.toUri.toString, "ours"), payload, overwrite = false)
    val theirs = local.create(new Path(dir.toUri.toString, "theirs"))
    theirs.write(payload)
    theirs.close()
    Files.readAllBytes(dir.resolve(".ours.crc")) shouldBe
      Files.readAllBytes(dir.resolve(".theirs.crc"))
  }

  it should "let LocalFileSystem reads detect a flipped data byte" in {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "1")
    put(fm, p, payload, overwrite = false)
    read(p) shouldBe payload
    val bytes = Files.readAllBytes(dir.resolve("1"))
    bytes(700) = (bytes(700) ^ 1).toByte
    Files.write(dir.resolve("1"), bytes)
    a[ChecksumException] should be thrownBy read(p)
  }
}
