package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.util.NativeCodeLoader

/** The engine's `file:` classes against stock Hadoop on the same files:
  * same statuses, same permissions, same `.crc` pairing — and no shell
  * processes. */
class NioLocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def conf(umask: Option[String] = None): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    umask.foreach(c.set("fs.permissions.umask-mask", _))
    c
  }

  private def raw(fs: RawLocalFileSystem, c: Configuration = conf()) = {
    fs.initialize(root, c); fs
  }

  private def stockFc(c: Configuration): FileContext = {
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    FileContext.getFileContext(root, c)
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)

  private def write(fc: FileContext, p: Path, text: String): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Processes started since boot in this PID namespace, from the
    * last-assigned PID in /proc/loadavg (threads draw from the same
    * counter, so this over-counts, never under-counts). */
  private def lastPid(): Long = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim.split("\\s+").last.toLong finally src.close()
  }

  /** ~200 create, mkdirs and rename-with-OVERWRITE operations through the
    * FileSystem and FileContext APIs; returns (operations, PIDs used). */
  private def fileOps(fs: FileSystem, fc: FileContext, dir: JPath): (Int, Long) = {
    val base = new Path(dir.toUri)
    val rounds = 40
    val before = lastPid()
    (0 until rounds).foreach { i =>
      val out = fs.create(new Path(base, s"fs-$i"), true)
      out.write(i); out.close()
      fs.mkdirs(new Path(base, s"fs-dir-$i/sub"))
      write(fc, new Path(base, s"fc-$i"), s"v$i")
      fc.mkdir(new Path(base, s"fc-dir-$i/sub"), null, true)
      fc.rename(new Path(base, s"fc-$i"), new Path(base, "fc-live"),
        Options.Rename.OVERWRITE)
    }
    (rounds * 5, lastPid() - before)
  }

  test("a GraftSession resolves file: to the engine classes on both APIs") {
    val fs = FileSystem.get(root, conf())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem
      .isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(root, conf()).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("getFileLinkStatus matches stock RawLocalFileSystem for files, " +
      "directories, symlinks and missing paths") {
    val dir = tmp("nio_status")
    val file = Files.write(dir.resolve("f"), "hello".getBytes("UTF-8"))
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dl"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    // fields, or the exception's class and message (a dangling link given
    // as a qualified path is missing to both)
    def status(fs: RawLocalFileSystem, p: Path) =
      scala.util.Try(fields(fs.getFileLinkStatus(p))).toEither.left.map(_.toString)
    for (p <- Seq(file, sub, link, dangling, missing);
         path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(status(nio, path) == status(stock, path), path)
    assert(status(nio, new Path(missing.toUri)).left.exists(
      _.startsWith(classOf[FileNotFoundException].getName)))
  }

  test("files and directories created under the umask get the same permissions") {
    for (umask <- Seq(None, Some("077"), Some("002"))) {
      val dir = tmp("nio_perm")
      val c = conf(umask)
      val stock = new LocalFileSystem(raw(new RawLocalFileSystem, c))
      stock.initialize(root, c)
      val nio = new NioLocalFileSystem
      nio.initialize(root, c)
      def make(fs: FileSystem, name: String): Seq[Path] = {
        val f = new Path(dir.toUri.toString, s"$name/a/file")
        val out = fs.create(f, true); out.write(1); out.close()
        fs.mkdirs(new Path(dir.toUri.toString, s"$name/b/c"))
        Seq("a", "a/file", "a/.file.crc", "b", "b/c")
          .map(r => new Path(dir.toUri.toString, s"$name/$r"))
      }
      val truth = raw(new RawLocalFileSystem, c) // ls -ld
      val expected = make(stock, "stock").map(p => truth.getFileLinkStatus(p).getPermission)
      val got = make(nio, "nio").map(p => truth.getFileLinkStatus(p).getPermission)
      assert(got == expected, umask)
    }
  }

  test("a FileContext rename with OVERWRITE keeps the data file and its .crc paired") {
    def renamed(fc: FileContext): (String, Seq[String]) = {
      val dir = tmp("nio_rename")
      val src = new Path(dir.toUri.toString, "src")
      val dst = new Path(dir.toUri.toString, "dst")
      write(fc, dst, "old contents, longer than the new ones")
      write(fc, src, "new")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val listing = dir.toFile.list().toSeq.sorted
      (read(fc, dst), listing) // read verifies dst against .dst.crc
    }
    val engine = renamed(FileContext.getFileContext(root, conf()))
    assert(engine == ("new", Seq(".dst.crc", "dst")))
    assert(engine == renamed(stockFc(conf())))
  }

  test("file operations on the engine classes start no processes") {
    val (ops, pids) = fileOps(FileSystem.get(root, conf()),
      FileContext.getFileContext(root, conf()), tmp("nio_procs"))
    info(s"$pids PIDs used by $ops file operations")
    assert(pids < ops / 10, s"$pids PIDs used by $ops file operations")
  }

  test("the same operations on stock Hadoop start processes without libhadoop") {
    assume(!NativeCodeLoader.isNativeCodeLoaded,
      "libhadoop is loaded: stock Hadoop uses native calls here")
    val c = conf()
    val stock = new LocalFileSystem()
    stock.initialize(root, c)
    val (ops, pids) = fileOps(stock, stockFc(c), tmp("stock_procs"))
    info(s"$pids PIDs used by $ops file operations")
    assert(pids >= ops / 10, s"$pids PIDs used by $ops file operations")
  }
}
