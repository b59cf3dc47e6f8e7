package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import graft.SparkSpec

/** The in-process local filesystem against Hadoop's stock one on the same
  * temp tree: every mode, link status and checksum must come out the
  * same. Each check runs the stock class and the in-process class side by
  * side on sibling paths and compares what lands on disk. */
class LocalFsSpec extends SparkSpec {

  private val Local = URI.create("file:///")

  private def sessionConf(umask: String): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, conf: Configuration): F = { fs.initialize(Local, conf); fs }

  /** (stock, in-process) checksummed filesystems. */
  private def checked(conf: Configuration): Seq[(String, FileSystem)] =
    Seq("stock" -> init(new LocalFileSystem(), conf), "in-process" -> init(new InProcessLocalFileSystem(), conf))

  /** (stock, in-process) raw filesystems. */
  private def raw(conf: Configuration): Seq[(String, RawLocalFileSystem)] =
    Seq("stock" -> init(new RawLocalFileSystem(), conf), "in-process" -> init(new InProcessRawLocalFileSystem(), conf))

  /** (stock, in-process) `FileContext`s, as Structured Streaming builds them. */
  private def contexts(conf: Configuration): Seq[(String, FileContext)] =
    Seq("org.apache.hadoop.fs.local.LocalFs", classOf[InProcessLocalFs].getName).zip(Seq("stock", "in-process"))
      .map { case (impl, name) =>
        val c = new Configuration(conf)
        c.set("fs.AbstractFileSystem.file.impl", impl)
        name -> FileContext.getFileContext(Local, c)
      }

  private def tree(): JPath = Files.createTempDirectory("graft-localfs")

  /** The full mode (type bits stripped, set-id and sticky bits kept). */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def sh(cmd: String*): Unit =
    assert(new ProcessBuilder(cmd: _*).inheritIO().start().waitFor() == 0, cmd.mkString(" "))

  private def at(t: JPath, rel: String): Path = new Path(t.resolve(rel).toUri)

  // (umask, file mode, dir mode): 0644/0755 and 0600/0700
  Seq(("022", 0x1a4, 0x1ed), ("077", 0x180, 0x1c0)).foreach { case (umask, fileMode, dirMode) =>
    test(s"created files, their .crc and dirs get the stock modes under umask $umask") {
      val t = tree()
      val conf = sessionConf(umask)
      checked(conf).foreach { case (name, fs) =>
        fs.create(at(t, s"fs-$name-file")).close()
        assert(fs.mkdirs(at(t, s"fs-$name-dir/a/b")))
      }
      contexts(conf).foreach { case (name, fc) =>
        fc.create(at(t, s"fc-$name-file"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
        fc.mkdir(at(t, s"fc-$name-dir/a/b"), FsPermission.getDirDefault, true)
      }
      for (api <- Seq("fs", "fc")) {
        def modes(rel: String) = Seq("stock", "in-process").map(n => mode(t.resolve(rel.format(n))))
        assert(modes(s"$api-%s-file") == Seq(fileMode, fileMode), api)
        assert(modes(s".$api-%s-file.crc") == Seq(fileMode, fileMode), api)
        Seq("", "/a", "/a/b").foreach { sub =>
          assert(modes(s"$api-%s-dir$sub") == Seq(dirMode, dirMode), s"$api dir$sub")
        }
      }
    }
  }

  test("an explicit setPermission of 0600 and 0750 lands the same mode on files and dirs") {
    val t = tree()
    for ((name, fs) <- raw(sessionConf("022")); perm <- Seq(0x180, 0x1e8)) { // 0600, 0750
      val f = t.resolve(s"$name-file-$perm"); Files.createFile(f)
      val d = t.resolve(s"$name-dir-$perm"); Files.createDirectory(d)
      Seq(f, d).foreach { p =>
        fs.setPermission(new Path(p.toUri), new FsPermission(perm.toShort))
        assert(mode(p) == perm, s"$name $p")
      }
    }
  }

  test("a sticky bit falls back to the stock chmod and lands") {
    val t = tree()
    val modes = raw(sessionConf("022")).map { case (name, fs) =>
      val d = Files.createDirectory(t.resolve(s"$name-sticky"))
      fs.setPermission(new Path(d.toUri), new FsPermission(0x3ff.toShort)) // 01777
      mode(d)
    }
    assert(modes == Seq(0x3ff, 0x3ff))
  }

  test("a setgid dir keeps its bit, as chmod 0755 keeps it") {
    val t = tree()
    val modes = raw(sessionConf("022")).map { case (name, fs) =>
      val d = Files.createDirectory(t.resolve(s"$name-setgid"))
      sh("chmod", "2700", d.toString)
      fs.setPermission(new Path(d.toUri), new FsPermission(0x1ed.toShort)) // 0755
      mode(d)
    }
    assert(modes == Seq(0x5ed, 0x5ed)) // 02755
  }

  test("getFileLinkStatus agrees on a file, a dir, a symlink, a dangling symlink and a missing path") {
    val t = tree()
    val file = Files.write(t.resolve("file"), Array[Byte](1, 2, 3))
    val dir = Files.createDirectory(t.resolve("dir"))
    val link = Files.createSymbolicLink(t.resolve("link"), file)
    val dangling = Files.createSymbolicLink(t.resolve("dangling"), t.resolve("gone"))
    val fss = raw(sessionConf("022"))
    def view(fs: RawLocalFileSystem, p: Path) = scala.util.Try(fs.getFileLinkStatus(p)).toEither
      .map(s => (s.getPath, s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None,
        s.getLen, s.getModificationTime))
      .left.map(_.getClass)
    // unqualified paths are the ones the stock code resolves links for (a
    // qualified dangling link is a missing file to it); both must agree
    for (p <- Seq(file, dir, link, dangling); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val got = fss.map { case (_, fs) => view(fs, path) }
      assert(got.distinct.size == 1, s"$path: $got")
    }
    val linkStatus = fss.last._2.getFileLinkStatus(new Path(link.toString))
    assert(linkStatus.isSymlink && linkStatus.getSymlink == new Path(file.toUri))
    assert(fss.last._2.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    fss.foreach { case (_, fs) =>
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(t.resolve("missing").toString)))
    }
  }

  test("the .crc sidecar is written as the stock one, and a flipped byte fails the read") {
    val t = tree()
    val bytes = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
    val crcs = checked(sessionConf("022")).map { case (name, fs) =>
      val out = fs.create(new Path(t.resolve(s"fs-$name.bin").toUri))
      out.write(bytes); out.close()
      Files.readAllBytes(t.resolve(s".fs-$name.bin.crc")).toSeq
    }
    assert(crcs.distinct.size == 1)
    contexts(sessionConf("022")).foreach { case (name, fc) =>
      val p = t.resolve(s"fc-$name.bin")
      val out = fc.create(new Path(p.toUri), java.util.EnumSet.of(CreateFlag.CREATE))
      out.write(bytes); out.close()
      assert(Files.exists(t.resolve(s".fc-$name.bin.crc")), name)
      assert(Files.readAllBytes(t.resolve(s".fc-$name.bin.crc")).toSeq == crcs.head, name)
      // open(path, bufferSize): FilterFs.open(path) skips ChecksumFs's check
      val in = fc.open(new Path(p.toUri), 4096)
      try assert(in.readAllBytes().toSeq == bytes.toSeq) finally in.close()
      // ChecksumFs reports a failure without moving the file (LocalFileSystem
      // would move it to a bad_files dir at the top of the device)
      val flipped = Files.readAllBytes(p); flipped(1234) = (flipped(1234) ^ 1).toByte
      Files.write(p, flipped)
      val bad = fc.open(new Path(p.toUri), 4096)
      try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
    }
  }

  test("a flipped byte fails a plain FileContext.open(path), the call the streaming checkpoint makes") {
    // FileContextBasedCheckpointFileManager.open reads offset, commit and
    // state-store files through open(path); stock LocalFs resolves it to
    // FilterFs.open(path), which skips the checksum
    val t = tree()
    val fc = FileContext.getFileContext(Local, sessionConf("022"))
    assert(fc.getDefaultFileSystem.isInstanceOf[InProcessLocalFs])
    val p = t.resolve("offsets-0")
    val bytes = Array.tabulate[Byte](5000)(i => (i * 17).toByte)
    val out = fc.create(new Path(p.toUri), java.util.EnumSet.of(CreateFlag.CREATE))
    out.write(bytes); out.close()
    val in = fc.open(new Path(p.toUri))
    try assert(in.readAllBytes().toSeq == bytes.toSeq) finally in.close()
    val flipped = Files.readAllBytes(p); flipped(2345) = (flipped(2345) ^ 1).toByte
    Files.write(p, flipped)
    val bad = fc.open(new Path(p.toUri))
    try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
  }
}
