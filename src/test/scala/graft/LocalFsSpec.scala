package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs}

/** The fork-free local filesystem ([[graft.io.NioRawLocalFileSystem]]) against
  * Hadoop's stock local filesystem on the same temp files: every status field
  * a caller reads, the mode bits a create or mkdirs leaves, symlinks, missing
  * paths and the FileContext rename the checkpoint logs rely on. */
class LocalFsSpec extends AnyFunSuite {
  private val root = URI.create("file:///")
  private val umask = "027"
  private val sides = Seq("stock", "graft")

  private def conf(side: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (side == "graft") Sessions.localFs.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }
  /** Fresh instances, not the per-JVM FileSystem cache. */
  private def fs(side: String): FileSystem = {
    val f = if (side == "graft") new NioLocalFileSystem else new LocalFileSystem
    f.initialize(root, conf(side))
    f
  }
  private def fc(side: String): FileContext = FileContext.getFileContext(root, conf(side))

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft-localfs").toRealPath()
  private def path(p: java.nio.file.Path): Path = new Path(p.toUri)
  private def octal(s: String): FsPermission = new FsPermission(Integer.parseInt(s, 8).toShort)

  /** Every field a caller reads off a status. */
  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
      s.getPermission, s.getOwner, s.getGroup, s.getModificationTime, s.getReplication, s.getBlockSize)

  private def sameOnBoth(what: String)(read: String => FileStatus): Unit = {
    val Seq(stock, graft) = sides.map(read)
    assert(fields(graft) == fields(stock), what)
  }

  private def fnfOnBoth(what: String)(read: String => Any): Unit =
    sides.foreach(side => withClue(s"$what, $side: ")(intercept[FileNotFoundException](read(side))))

  test("create and mkdirs with a permission and umask give the same mode bits") {
    val d = tmp()
    for (side <- sides; mode <- Seq("777", "644", "700", "751")) {
      val perm = octal(mode)
      fs(side).create(path(d.resolve(s"fs-file-$mode-$side")), perm, false, 4096, 1.toShort, 1L << 20, null)
        .close()
      assert(fs(side).mkdirs(path(d.resolve(s"fs-dir-$mode-$side")), perm))
      fc(side).create(path(d.resolve(s"fc-file-$mode-$side")), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(perm)).close()
      fc(side).mkdir(path(d.resolve(s"fc-dir-$mode-$side/nested")), perm, true)
    }
    val entries = Files.walk(d).iterator().asScala.filter(_ != d).toSeq
    val graft = entries.filter(_.toString.contains("-graft"))
    assert(graft.size == entries.size / 2 && graft.exists(_.getFileName.toString.endsWith(".crc")))
    for (g <- graft) {
      val s = Paths.get(g.toString.replace("-graft", "-stock"))
      assert(Files.getPosixFilePermissions(g) == Files.getPosixFilePermissions(s), g.toString)
    }
    // the umask applies: 777 & ~027 = 750
    assert(fs("graft").getFileStatus(path(d.resolve("fs-file-777-graft"))).getPermission == octal("750"))
    assert(fs("graft").getFileStatus(path(d.resolve("fc-dir-777-graft/nested"))).getPermission == octal("750"))
  }

  test("getFileStatus matches on length, isDir, permission, owner, group and mtime") {
    val d = tmp()
    val file = d.resolve("f")
    Files.write(file, "some bytes".getBytes(UTF_8))
    Files.createDirectory(d.resolve("sub"))
    val sticky = d.resolve("sticky")
    Files.createDirectory(sticky)
    fs("graft").setPermission(path(sticky), octal("1755"))
    // the temp root is typically a sticky 1777 directory
    for (p <- Seq(file, d.resolve("sub"), d, sticky, d.getParent))
      sameOnBoth(p.toString)(fs(_).getFileStatus(path(p)))
    assert(fs("graft").getFileStatus(path(sticky)).getPermission.getStickyBit)
    fs("graft").setPermission(path(file), octal("640"))
    sameOnBoth("after setPermission")(fs(_).getFileStatus(path(file)))
    assert(fs("stock").getFileStatus(path(file)).getPermission == octal("640"))
  }

  test("getFileLinkStatus handles a symlink and a dangling symlink") {
    val d = tmp()
    Files.write(d.resolve("target"), "target bytes".getBytes(UTF_8))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("target"))
    Files.createSymbolicLink(d.resolve("relative"), Paths.get("target"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("missing"))
    // Scheme-less paths: the stock class runs `readlink` on the path text,
    // which for a `file:` URI names no file, so it sees no link there.
    for (name <- Seq("target", "link", "relative", "dangling")) {
      val p = new Path(d.resolve(name).toString)
      sameOnBoth(s"FileSystem $name")(fs(_).getFileLinkStatus(p))
      sameOnBoth(s"FileContext $name")(fc(_).getFileLinkStatus(p))
      val qualified = fs("graft").getFileLinkStatus(path(d.resolve(name)))
      assert(fields(qualified).copy(_1 = null) == fields(fs("graft").getFileLinkStatus(p)).copy(_1 = null), name)
    }
    val link = fs("graft").getFileLinkStatus(path(d.resolve("link")))
    assert(link.isSymlink && link.getSymlink == path(d.resolve("target")) && link.getLen == 12)
    val dangling = fs("graft").getFileLinkStatus(path(d.resolve("dangling")))
    assert(dangling.isSymlink && dangling.getSymlink == path(d.resolve("missing")) && dangling.getLen == 0)
    assert(fs("graft").getLinkTarget(path(d.resolve("relative"))) == new Path("target"))
    sameOnBoth("followed link")(fs(_).getFileStatus(path(d.resolve("link"))))
    fnfOnBoth("followed dangling link")(fs(_).getFileStatus(path(d.resolve("dangling"))))
  }

  test("a missing path throws FileNotFoundException") {
    val d = tmp()
    Files.write(d.resolve("file"), Array[Byte](1))
    for (p <- Seq(d.resolve("missing"), d.resolve("file/child")).map(path)) {
      fnfOnBoth("getFileStatus")(fs(_).getFileStatus(p))
      fnfOnBoth("getFileLinkStatus")(fs(_).getFileLinkStatus(p))
      fnfOnBoth("FileContext.getFileStatus")(fc(_).getFileStatus(p))
      sides.foreach(side => intercept[IOException](fs(side).setPermission(p, octal("644"))))
    }
  }

  test("listStatus of a directory holding a symlinked file matches") {
    val d = tmp()
    val src = tmp()
    Files.write(src.resolve("part-0.parquet"), Array.fill[Byte](100)(7))
    Files.write(d.resolve("plain"), Array[Byte](1, 2))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("linked.parquet"), src.resolve("part-0.parquet"))
    Files.createSymbolicLink(d.resolve("dangling"), src.resolve("missing"))
    val Seq(stock, graft) = sides.map(s => fs(s).listStatus(path(d)).sortBy(_.getPath.toString).toSeq)
    assert(graft.map(fields) == stock.map(fields))
    assert(graft.map(_.getPath.getName) == Seq("dir", "linked.parquet", "plain"))
    assert(graft.find(_.getPath.getName == "linked.parquet").get.getLen == 100)
  }

  test("FileContext.rename(NONE) refuses an existing target and leaves its bytes; OVERWRITE replaces") {
    for (side <- sides) {
      val d = tmp()
      val ctx = fc(side)
      def write(name: String, text: String): Path = {
        val p = path(d.resolve(name))
        val out = ctx.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      def read(p: Path): String = {
        val in = ctx.open(p) // verifies the .crc
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      val target = write("0", "committed batch 0")
      val next = write(".0.tmp", "a concurrent writer's batch 0")
      intercept[FileAlreadyExistsException](ctx.rename(next, target, Options.Rename.NONE))
      assert(read(target) == "committed batch 0", side)
      ctx.rename(next, target, Options.Rename.OVERWRITE)
      assert(read(target) == "a concurrent writer's batch 0", side)
      assert(!Files.exists(d.resolve(".0.tmp")) && !Files.exists(d.resolve("..0.tmp.crc")), side)
    }
  }

  test("FileSystem.rename refuses an existing target file, as the service-loaded stock class does") {
    val d = tmp()
    val stock = new org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem
    stock.initialize(root, conf("stock"))
    for ((side, f) <- Seq("stock" -> stock, "graft" -> fs("graft"))) {
      def write(name: String, text: String): Path = {
        val p = path(d.resolve(s"$side-$name"))
        val out = f.create(p, true)
        try out.write(text.getBytes(UTF_8)) finally out.close()
        p
      }
      val target = write("target", "kept")
      assert(!f.rename(write("src", "refused"), target), side)
      assert(Files.readString(d.resolve(s"$side-target")) == "kept", side)
      assert(f.rename(path(d.resolve(s"$side-src")), path(d.resolve(s"$side-moved"))), side)
      assert(Files.readString(d.resolve(s"$side-moved")) == "refused", side)
    }
  }

  test("a Sessions.local-configured session resolves file: to the graft classes; checkpoints stay FileContext-based") {
    val spark = TestSpark.spark
    Sessions.localFs.foreach { case (k, v) => assert(spark.sparkContext.getConf.get(k) == v, k) }
    val hadoopConf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, hadoopConf).getClass == classOf[NioLocalFileSystem])
    assert(new Path(tmp().toUri).getFileSystem(spark.sparkContext.hadoopConfiguration).getClass ==
      classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hadoopConf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
    assert(CheckpointFileManager.create(path(tmp()), hadoopConf).getClass.getSimpleName ==
      "FileContextBasedCheckpointFileManager")
  }
}
