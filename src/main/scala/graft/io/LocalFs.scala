package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local filesystem with its two per-file forks done in
  * process. Without the native-hadoop library, [[RawLocalFileSystem]]
  * runs `chmod` in a child process for every file and dir it creates, and
  * `readlink` for every `getFileLinkStatus` (twice per `FileContext`
  * rename); each fork costs ~3 ms. Only these two calls differ from the
  * stock ones:
  *
  *  - [[setPermission]] is one `chmod(2)` through
  *    `Files.setPosixFilePermissions`. It leaves the call to the stock
  *    code when native IO is loaded (already in process), for a sticky
  *    bit (which `PosixFilePermission` cannot express), on a store
  *    without POSIX attributes, and for a dir carrying a setuid or setgid
  *    bit, which `chmod 0755` keeps and `chmod(2)` would clear.
  *  - [[getFileLinkStatus]] asks `Files.isSymbolicLink` of the same file
  *    the stock code hands `readlink`; a non-link gets [[getFileStatus]],
  *    as the stock code returns when `readlink` prints nothing, and a
  *    link goes to the stock code.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || !LocalFs.Posix || permission.getStickyBit) super.setPermission(p, permission)
    else {
      val file = pathToFile(p).toPath
      val mode = try Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
      if ((mode & LocalFs.TypeMask) == LocalFs.Dir && (mode & LocalFs.SetIdBits) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, LocalFs.posix(permission.toShort))
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] (`.crc` sidecars)
  * over [[InProcessRawLocalFileSystem]]. */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side: Hadoop's
  * `LocalFs` (a [[ChecksumFs]] over a [[DelegateToFileSystem]]) with
  * [[InProcessRawLocalFileSystem]] underneath. Structured Streaming's
  * offset and commit logs and the state store's checkpoint files are
  * written through this path. `uri` is ignored, as `LocalFs` ignores it.
  * `open(path)`, the call that reads them back, checks the `.crc` sidecar
  * as `open(path, bufferSize)` does: the inherited `FilterFs.open(path)`
  * skips it, and a flipped byte would resume a query silently. */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}

/** Hadoop's `RawLocalFs` (package-private there) over
  * [[InProcessRawLocalFileSystem]]. */
private class InProcessRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object LocalFs {

  /** The Hadoop settings that put every `file:` read and write of a
    * session on the in-process classes ([[graft.Sessions.tune]] applies
    * them with the `spark.hadoop.` prefix). */
  val HadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[InProcessLocalFs].getName)

  private[io] val Posix: Boolean = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private[io] val TypeMask = 0xf000 // S_IFMT
  private[io] val Dir = 0x4000 // S_IFDIR
  private[io] val SetIdBits = 0xc00 // S_ISUID | S_ISGID

  private val Order = PosixFilePermission.values // owner rwx, group rwx, others rwx

  /** The permission set of the low nine bits of `mode`. */
  private[io] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Order.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(Order(i)))
    s
  }
}
