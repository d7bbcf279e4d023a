package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, LinkOption, NoSuchFileException, Paths, StandardCopyOption,
  StandardOpenOption, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A `CheckpointFileManager` for local checkpoint directories that does
  * every file operation through java.nio, inside the JVM.
  *
  * Spark's default, `FileContextBasedCheckpointFileManager`, goes
  * through Hadoop's `RawLocalFileSystem`. Without Hadoop's native IO
  * library that filesystem forks an OS process for two calls a stream
  * makes on every micro-batch: each temp-file create sets permissions
  * (`chmod`), and each temp-file rename reads the link status
  * (`readlink`). On a 4-core Linux host without native IO, one
  * `q_stream_dedup_exact` drive of the end-to-end benchmark forked
  * about 640 of them. This manager forks none.
  *
  * Contract (the one `HDFSMetadataLog` and the state stores rely on):
  *  - `createAtomic` writes a sibling temp file; its bytes become
  *    visible under the target name only on `close`. With
  *    `overwriteIfPossible` the temp file is moved over the target
  *    atomically. Without it the temp file is hard-linked to the target
  *    name, which fails atomically when the target exists; `close` then
  *    throws Hadoop's `FileAlreadyExistsException` and the old bytes
  *    stay. Either way no temp file is left behind.
  *  - `cancel` deletes the temp file and publishes nothing.
  *  - `open` of a missing file throws `FileNotFoundException`; `list`
  *    of a missing path too. `delete` is recursive and ignores a
  *    missing path.
  *  - Only `file:` paths are accepted (a path without a scheme only
  *    when the default filesystem is local); any other path is rejected
  *    by name.
  *
  * Spark instantiates it by reflection from
  * `spark.sql.streaming.checkpointFileManagerClass`, which
  * [[StreamQueries.drive]] sets for the duration of one drive.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  import LocalCheckpointFileManager._

  private val root = local(path)

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    val temp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    new AtomicOutput(target, temp, overwriteIfPossible)
  }

  override def open(p: Path): FSDataInputStream = {
    val ch = try FileChannel.open(local(p), StandardOpenOption.READ)
      catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
    new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(ch), BufferBytes))
  }

  override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = local(p)
    val attrs = attributes(dir).getOrElse(
      throw new FileNotFoundException(s"$p does not exist"))
    val all =
      if (!attrs.isDirectory) Seq(status(p, attrs))
      else {
        val names = try {
          val ds = Files.newDirectoryStream(dir)
          try { val b = Seq.newBuilder[NioPath]; ds.forEach(f => b += f); b.result() }
          finally ds.close()
        } catch { case _: NoSuchFileException => throw new FileNotFoundException(s"$p does not exist") }
        // a file deleted between the listing and its stat is not listed
        names.flatMap { f =>
          val child = new Path(p, f.getFileName.toString)
          attributes(f).map(a => status(child, a))
        }
      }
    all.filter(st => filter.accept(st.getPath)).toArray
  }

  override def mkdirs(p: Path): Unit = { Files.createDirectories(local(p)); () }

  override def exists(p: Path): Boolean = Files.exists(local(p))

  override def delete(p: Path): Unit = deleteTree(local(p))

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    Files.createDirectories(root)
    new Path(root.toUri)
  }

  /** Map a Hadoop path to a local one, rejecting any non-local path. */
  private def local(p: Path): NioPath = {
    val scheme = Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme != "file") throw new IllegalArgumentException(
      s"LocalCheckpointFileManager handles only local file: paths, got $p")
    Paths.get(p.toUri.getPath)
  }
}

object LocalCheckpointFileManager {

  private val BufferBytes = 64 * 1024

  private def attributes(f: NioPath): Option[BasicFileAttributes] =
    try Some(Files.readAttributes(f, classOf[BasicFileAttributes]))
    catch { case _: NoSuchFileException => None }

  private def status(p: Path, a: BasicFileAttributes): FileStatus =
    new FileStatus(if (a.isDirectory) 0L else a.size, a.isDirectory, 1, BufferBytes,
      a.lastModifiedTime.toMillis, p)

  private def deleteTree(f: NioPath): Unit =
    try {
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
        val ds = Files.newDirectoryStream(f)
        try ds.forEach(c => deleteTree(c)) finally ds.close()
      }
      Files.deleteIfExists(f)
      ()
    } catch { case _: NoSuchFileException => () } // removed concurrently

  /** The temp-file stream behind `createAtomic`: publish on `close`,
    * discard on `cancel`, and never leave the temp file behind.
    */
  private final class AtomicOutput(target: NioPath, temp: NioPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW,
          StandardOpenOption.WRITE), BufferBytes)) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          underlyingStream.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          else try Files.createLink(target, temp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => () }
        Files.deleteIfExists(temp)
      }
    }
  }

  /** Seekable positioned reads over one file channel. */
  private final class ChannelInput(ch: FileChannel) extends FSInputStream {
    override def seek(pos: Long): Unit = { ch.position(pos); () }
    override def getPos: Long = ch.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 1) -1 else one(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else ch.read(ByteBuffer.wrap(b, off, len))
    override def close(): Unit = ch.close()
  }
}
