package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption, Path => JPath}
import java.util.UUID
import java.util.zip.CRC32

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint file manager [[graft.SessionConf]] installs
  * through Spark's `spark.sql.streaming.checkpointFileManagerClass`:
  * offset and commit logs, state-store deltas and snapshots, state
  * schema and operator metadata all go through it.
  *
  * Spark's default on `file:` is `FileContextBasedCheckpointFileManager`.
  * Without `libhadoop`, Hadoop's local filesystem forks a `chmod` for
  * every temp-file create and a `readlink` for every link-status lookup
  * (four per rename), for the data file and again for its `.crc`: tens
  * of milliseconds per checkpoint file, about 60 forks per trigger of
  * an LWW merge. This manager writes and publishes the same two files
  * through `java.nio` instead:
  *
  *  - the temp file is dot-prefixed and non-numeric, so no log or state
  *    listing takes it for a batch; its `.crc` is computed while
  *    writing, byte for byte what `ChecksumFileSystem` writes;
  *  - no-clobber publishes with `link(2)`, which fails atomically when
  *    the name exists; that maps to Hadoop's
  *    `FileAlreadyExistsException`, which `HDFSMetadataLog` takes as a
  *    concurrent writer, and the existing file and `.crc` stay as they
  *    were;
  *  - overwrite publishes with an atomic rename, the data file first,
  *    then its `.crc`: the order `ChecksumFs.renameInternal` uses.
  *
  * Reads, listings and deletes stay on `LocalFileSystem`, so `.crc` is
  * verified on read, hidden from listings and deleted with its file.
  * Only paths whose filesystem is a `LocalFileSystem` take this path
  * (with Spark's jars, `file:` resolves to Hive's `ProxyLocalFileSystem`,
  * which overrides only `FileSystem.rename`); any other filesystem gets
  * the manager Spark would have picked.
  */
class LocalCheckpointFiles(path: Path, conf: Configuration) extends CheckpointFileManager {

  private[graft] val manager: CheckpointFileManager = path.getFileSystem(conf) match {
    case fs: LocalFileSystem => new LocalCheckpointFiles.Nio(path, fs)
    case _ =>
      val spark = new Configuration(conf)
      spark.unset(LocalCheckpointFiles.Key)
      CheckpointFileManager.create(path, spark)
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    manager.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = manager.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = manager.list(p, filter)
  override def mkdirs(p: Path): Unit = manager.mkdirs(p)
  override def exists(p: Path): Boolean = manager.exists(p)
  override def delete(p: Path): Unit = manager.delete(p)
  override def isLocal: Boolean = manager.isLocal
  override def createCheckpointDirectory(): Path = manager.createCheckpointDirectory()
  override def close(): Unit = manager.close()
}

object LocalCheckpointFiles {

  /** The Hadoop-conf key Spark reads the manager's class name from. */
  val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private final class Nio(root: Path, fs: LocalFileSystem) extends CheckpointFileManager {
    private def file(p: Path): JPath = fs.pathToFile(p).toPath

    override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
      val tmp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp")
      val out = new Summed(new BufferedOutputStream(Files.newOutputStream(file(tmp),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16), fs.getBytesPerSum)
      new AtomicFile(out, file(tmp), file(fs.getChecksumFile(tmp)), file(p),
        file(fs.getChecksumFile(p)), overwriteIfPossible)
    }
    override def open(p: Path): FSDataInputStream = fs.open(p)
    override def list(p: Path, filter: PathFilter): Array[FileStatus] = fs.listStatus(p, filter)
    override def mkdirs(p: Path): Unit = {
      val dir = file(p)
      if (!Files.isDirectory(dir)) Files.createDirectories(dir)
    }
    override def exists(p: Path): Boolean = Files.exists(file(p))
    override def delete(p: Path): Unit = fs.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path = {
      val qualified = fs.makeQualified(root)
      mkdirs(qualified)
      qualified
    }
  }

  /** Writes `tmp` and keeps its checksums; `close` writes `tmpCrc` and
    * publishes both under `dst`'s names, `cancel` removes both.
    */
  private final class AtomicFile(summed: Summed, tmp: JPath, tmpCrc: JPath, dst: JPath,
      dstCrc: JPath, overwrite: Boolean) extends CancellableFSDataOutputStream(summed) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          super.close()
          Files.write(tmpCrc, summed.checksums)
          publish()
        } catch {
          case e: Throwable =>
            try discard() catch { case NonFatal(d) => e.addSuppressed(d) }
            throw e
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try super.close() catch { case NonFatal(_) => }
        discard()
      }
    }

    private def publish(): Unit =
      if (overwrite) {
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmpCrc, dstCrc, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(dst, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists")
        }
        Files.move(tmpCrc, dstCrc, StandardCopyOption.ATOMIC_MOVE)
        Files.delete(tmp)
      }

    private def discard(): Unit = {
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(tmpCrc)
    }
  }

  /** Passes bytes to `out` and keeps the `.crc` `ChecksumFileSystem`
    * writes for them: `"crc\0"`, `bytesPerSum`, then one big-endian
    * CRC32 per `bytesPerSum`-byte chunk, the last chunk short.
    */
  private final class Summed(out: OutputStream, bytesPerSum: Int) extends OutputStream {
    private val crc = new CRC32
    private var inChunk = 0
    private val sums = new ByteArrayOutputStream
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
      var at = off
      while (at < off + len) {
        val n = math.min(off + len - at, bytesPerSum - inChunk)
        crc.update(b, at, n)
        at += n
        inChunk += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }

    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    /** The `.crc` file's bytes; read once, after the last write. */
    def checksums: Array[Byte] = {
      if (inChunk > 0) endChunk()
      sums.toByteArray
    }
  }
}
