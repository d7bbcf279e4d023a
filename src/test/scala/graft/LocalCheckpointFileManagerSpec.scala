package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The file contract the streaming engine's logs and state stores rely
  * on, checked against [[LocalCheckpointFileManager]] directly.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite with BeforeAndAfterEach {

  private var dir: java.nio.file.Path = _
  private var fm: LocalCheckpointFileManager = _

  override def beforeEach(): Unit = {
    dir = Files.createTempDirectory("graft_cfm_spec")
    fm = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
  }

  override def afterEach(): Unit = fm.delete(new Path(dir.toUri))

  private def p(name: String) = new Path(new Path(dir.toUri), name)
  private def names = dir.toFile.list().toSet
  private def read(path: Path): String = {
    val in = fm.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def write(path: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(path, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("createAtomic makes the bytes visible only on close, and leaves no temp file") {
    val out = fm.createAtomic(p("0"), overwriteIfPossible = false)
    out.write("batch 0".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p("0")))
    assert(!names.contains("0"))
    out.close()
    assert(read(p("0")) == "batch 0")
    assert(names == Set("0"))
  }

  test("cancel leaves neither the target nor a temp file") {
    val out = fm.createAtomic(p("1"), overwriteIfPossible = true)
    out.write("never published".getBytes(UTF_8))
    out.cancel()
    out.close() // a close after cancel publishes nothing
    assert(!fm.exists(p("1")))
    assert(names.isEmpty)
  }

  test("a no-overwrite create onto an existing file throws and keeps the old bytes") {
    write(p("2"), "first", overwrite = false)
    val out = fm.createAtomic(p("2"), overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    assert(read(p("2")) == "first")
    assert(names == Set("2"))
  }

  test("an overwriting create replaces the bytes") {
    write(p("3"), "old", overwrite = false)
    write(p("3"), "new", overwrite = true)
    assert(read(p("3")) == "new")
    assert(names == Set("3"))
  }

  test("open seeks and reads at a position, and a missing file is not found") {
    write(p("4"), "0123456789", overwrite = false)
    val in = fm.open(p("4"))
    try {
      in.seek(6)
      assert(in.read() == '6')
      val buf = new Array[Byte](3)
      in.readFully(1L, buf)
      assert(new String(buf, UTF_8) == "123")
    } finally in.close()
    intercept[java.io.FileNotFoundException](fm.open(p("missing")))
  }

  test("list applies the filter to the direct children; a missing path is not found") {
    write(p("5.delta"), "a", overwrite = false)
    write(p("6.delta"), "bb", overwrite = false)
    write(p("7.snapshot"), "c", overwrite = false)
    fm.mkdirs(p("sub/deeper"))
    val deltas = fm.list(new Path(dir.toUri), new PathFilter {
      def accept(f: Path): Boolean = f.getName.endsWith(".delta")
    })
    assert(deltas.map(_.getPath.getName).toSet == Set("5.delta", "6.delta"))
    assert(deltas.find(_.getPath.getName == "6.delta").get.getLen == 2L)
    assert(deltas.forall(s => s.isFile && s.getPath.toUri.getScheme == "file"))
    val all = fm.list(new Path(dir.toUri))
    assert(all.map(_.getPath.getName).toSet == Set("5.delta", "6.delta", "7.snapshot", "sub"))
    assert(all.find(_.getPath.getName == "sub").get.isDirectory)
    intercept[java.io.FileNotFoundException](fm.list(p("missing")))
  }

  test("exists, mkdirs and a recursive delete that ignores missing paths") {
    assert(!fm.exists(p("a")))
    fm.mkdirs(p("a/b/c"))
    fm.mkdirs(p("a/b/c")) // idempotent
    assert(fm.exists(p("a/b/c")))
    write(p("a/b/c/file"), "x", overwrite = false)
    fm.delete(p("a"))
    assert(!fm.exists(p("a")))
    fm.delete(p("a")) // no error when already gone
    assert(names.isEmpty)
  }

  test("createCheckpointDirectory creates the root and returns it qualified") {
    val root = new Path(new Path(dir.toUri), "ckpt")
    val made = new LocalCheckpointFileManager(root, new Configuration())
      .createCheckpointDirectory()
    assert(made.toUri.getScheme == "file")
    assert(Files.isDirectory(dir.resolve("ckpt")))
  }

  test("a non-file path is rejected, naming the path") {
    val remote = new Path("hdfs://namenode:8020/ckpt/offsets/0")
    val e = intercept[IllegalArgumentException](fm.exists(remote))
    assert(e.getMessage.contains(remote.toString))
    intercept[IllegalArgumentException](
      new LocalCheckpointFileManager(remote, new Configuration()))
  }
}
