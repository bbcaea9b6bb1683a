package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream, OutputStream}
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, FSDataInputStream, FileStatus, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The engine's streaming checkpoint file manager, set by
  * `GraftSession.configure` under `spark.sql.streaming.checkpointFileManagerClass`.
  * Spark builds every checkpoint manager from that key: the offset, commit
  * and metadata logs on the driver, and each state store's manager on the
  * executors (which Spark wraps in its own `ChecksumCheckpointFileManager`).
  *
  * Hadoop's local `FileContext` starts a `chmod` process on every create and
  * a `readlink` process on every rename, about 23 ms per checkpoint file on
  * a 4-core box, so a micro-batch's offset, commit and state-delta files cost
  * ~100 ms of its critical path. For `file:` paths `createAtomic` and `mkdirs`
  * go through java.nio instead, with no process start:
  *  - the data goes to a temp file in the target's directory, and its
  *    checksums to a temp `.crc` sidecar in Hadoop's `ChecksumFileSystem`
  *    format (`crc\0`, `file.bytes-per-checksum`, one big-endian CRC32 per
  *    chunk), so Hadoop's checksummed `FileSystem` verifies what is written
  *    here, as it verifies what Spark's default manager writes;
  *  - `close` publishes with rename(2), the sidecar first, then the data; with
  *    overwrite off an existing target fails with Hadoop's
  *    `FileAlreadyExistsException` (checked, then renamed, as Hadoop's local
  *    rename does), which `HDFSMetadataLog` reports as a concurrent writer;
  *  - `cancel` deletes both temp files.
  * Like Hadoop's local file system, neither file is fsync'ed.
  *
  * `open` of a `file:` path goes through Hadoop's checksummed local
  * `FileSystem`, so a corrupt offset, commit or state file raises
  * `ChecksumException` instead of being read back (Spark's `FileContext`
  * manager reads a local file raw: `FilterFs.open` bypasses `ChecksumFs`).
  * A file with no sidecar, as older checkpoints may hold, reads unchecked.
  *
  * Everything else (`list`, `exists`, `delete`,
  * `createCheckpointDirectory`), and every path whose scheme is not `file`,
  * goes to the manager Spark builds from the same configuration without the
  * key, so HDFS or S3 behave as in Spark.
  */
final class LocalCheckpointFiles(path: Path, conf: Configuration)
  extends CheckpointFileManager {

  private val spark: CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(LocalCheckpointFiles.ManagerKey)
    CheckpointFileManager.create(path, c)
  }

  private val bytesPerChecksum = conf.getInt("file.bytes-per-checksum", 512)
  private val defaultIsFile = FileSystem.getDefaultUri(conf).getScheme == "file"

  /** The java.nio path of a `file:` path; None for any other scheme. */
  private def local(p: Path): Option[java.nio.file.Path] = {
    val u = p.toUri
    val isFile = if (u.getScheme == null) defaultIsFile else u.getScheme == "file"
    if (isFile) Some(Paths.get(u.getPath)) else None
  }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
  : CancellableFSDataOutputStream = local(p) match {
    case Some(target) =>
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      new LocalCheckpointFiles.AtomicFile(target, temp, overwriteIfPossible, bytesPerChecksum)
    case None => spark.createAtomic(p, overwriteIfPossible)
  }

  override def mkdirs(p: Path): Unit = local(p) match {
    case Some(dir) => Files.createDirectories(dir)
    case None => spark.mkdirs(p)
  }

  override def open(p: Path): FSDataInputStream = local(p) match {
    case Some(_) => FileSystem.getLocal(conf).open(p)
    case None => spark.open(p)
  }
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = spark.list(p, filter)
  override def exists(p: Path): Boolean = spark.exists(p)
  override def delete(p: Path): Unit = spark.delete(p)
  override def isLocal: Boolean = spark.isLocal
  override def createCheckpointDirectory(): Path = spark.createCheckpointDirectory()
  override def close(): Unit = spark.close()
}

object LocalCheckpointFiles {

  /** Spark's key for the checkpoint file manager class. */
  val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Hadoop's sidecar of `file`: `.<name>.crc` in the same directory. */
  private[graft] def sidecar(file: java.nio.file.Path): java.nio.file.Path =
    file.resolveSibling("." + file.getFileName + ".crc")

  /** Data bytes to a file, with a CRC32 per `chunk` bytes kept for its sidecar. */
  private final class Summed(file: java.nio.file.Path, chunk: Int) extends OutputStream {
    private val out = new BufferedOutputStream(
      Files.newOutputStream(file, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)
    private val crc = new CRC32
    private var inChunk = 0
    private val sumBytes = new ByteArrayOutputStream()
    private val sums = new DataOutputStream(sumBytes)
    sums.write(Array[Byte]('c', 'r', 'c', 0))
    sums.writeInt(chunk)

    private def endChunk(): Unit = {
      sums.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }

    override def write(b: Int): Unit = {
      out.write(b)
      crc.update(b)
      inChunk += 1
      if (inChunk == chunk) endChunk()
    }

    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      val end = off + len
      while (o < end) {
        val n = math.min(end - o, chunk - inChunk)
        crc.update(b, o, n)
        inChunk += n
        o += n
        if (inChunk == chunk) endChunk()
      }
    }

    override def flush(): Unit = out.flush()

    /** Close the data file; the sidecar's bytes, the last partial chunk summed. */
    def finish(): Array[Byte] = {
      out.close()
      if (inChunk > 0) endChunk()
      sumBytes.toByteArray
    }

    override def close(): Unit = out.close()
  }

  private final class AtomicFile(target: java.nio.file.Path, temp: java.nio.file.Path,
                                 overwrite: Boolean, chunk: Int)
    extends CancellableFSDataOutputStream(new Summed(temp, chunk)) {

    private val data = underlyingStream.asInstanceOf[Summed]
    private val tempSums = sidecar(temp)
    private var terminated = false

    override def close(): Unit = synchronized {
      if (terminated) return
      terminated = true
      try {
        val sums = data.finish()
        if (!overwrite && Files.exists(target, LinkOption.NOFOLLOW_LINKS))
          throw new FileAlreadyExistsException(s"$target already exists")
        Files.write(tempSums, sums)
        Files.move(tempSums, sidecar(target), StandardCopyOption.ATOMIC_MOVE)
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      } catch {
        case e: Throwable =>
          removeTemps()
          throw e
      }
    }

    override def cancel(): Unit = synchronized {
      if (terminated) return
      terminated = true
      try data.close()
      finally removeTemps()
    }

    private def removeTemps(): Unit = {
      Files.deleteIfExists(temp)
      Files.deleteIfExists(tempSums)
    }
  }
}
