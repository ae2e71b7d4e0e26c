package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Shell-free local filesystem (guide §5 "the driver should do almost no
  * data work" applied to the metadata plane).
  *
  * Without the Hadoop native library (absent here and in most slim
  * deployments), `RawLocalFileSystem` falls back to FORKING A SUBPROCESS
  * for permission and link metadata:
  *
  *   - `setPermission` execs `chmod` — hit by every `mkdirs(path, perm)`
  *     and every `create(path, perm, …)`, i.e. every checkpoint/WAL file
  *     a streaming query writes (plus its ChecksumFS `.crc` sibling);
  *   - `getFileLinkStatus` execs `readlink` (and `ls -ld` for the lazy
  *     permission load) — hit by every `FileContext.rename`, which the
  *     streaming `CheckpointFileManager` performs per metadata-log commit
  *     (offsets, commits, state schema, state deltas × partitions).
  *
  * Measured on the r14 bench host (jstack + /proc/stat `processes`): a
  * single stateful-gate bench rep forked ~525 subprocesses, ~1.6-3 ms
  * each — ~0.7-1.0 s of the rep's wall, all of it outside Spark jobs, and
  * the dominant fixed cost of the 42 streaming gates. The same shell-outs
  * exist at production scale on any cluster without libhadoop.
  *
  * These subclasses replace exactly the forking call sites with java.nio
  * equivalents (same values, same FileNotFound contracts) and change
  * nothing else: `NioLocalFileSystem` is the default checksummed
  * `LocalFileSystem` over the nio raw FS (`fs.file.impl`), and
  * `NioLocalFs` is the default checksummed `FileContext` binding over the
  * same raw FS (`fs.AbstractFileSystem.file.impl`). Layouts, `.crc`
  * siblings and rename semantics are byte-identical to stock Hadoop.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  // POSIX bit order matches FsPermission.toShort: owner rwx, group rwx,
  // other rwx from bit 8 down to bit 0.
  private val posixOrder = Array(
    PosixFilePermission.OWNER_READ, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_EXECUTE)

  private def toNioPerms(bits: Int): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((bits & (1 << (8 - i))) != 0) out.add(posixOrder(i))
      i += 1
    }
    out
  }

  private def toFsPermission(ps: java.util.Set[PosixFilePermission]): FsPermission = {
    var bits = 0
    var i = 0
    while (i < 9) {
      if (ps.contains(posixOrder(i))) bits |= (1 << (8 - i))
      i += 1
    }
    new FsPermission(bits.toShort)
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    if (permission == null) return
    val bits = permission.toShort.toInt
    // sticky/setuid/setgid are not expressible via PosixFilePermission —
    // keep the (forking) stock path for those rare requests
    if ((bits & ~0x1ff) != 0) { super.setPermission(p, permission); return }
    try Files.setPosixFilePermissions(pathToFile(p).toPath, toNioPerms(bits))
    catch {
      case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $p does not exist")
    }
  }

  /** Mirror of the stock (deprecated, shell-based) link-status contract,
    * fork-free: non-symlinks delegate to the inherited getFileStatus;
    * symlinks report the DEREFERENCED target's attributes with
    * isDirectory=false, the raw target as symlink, then the same
    * qualifySymlinkTarget the stock public wrapper applies. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val nio = pathToFile(f).toPath
    val linkAttrs =
      try Files.readAttributes(nio, classOf[PosixFileAttributes],
        LinkOption.NOFOLLOW_LINKS)
      catch {
        case _: NoSuchFileException =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    if (!linkAttrs.isSymbolicLink) return getFileStatus(f)
    val target = new Path(Files.readSymbolicLink(nio).toString)
    val st =
      try {
        val a = Files.readAttributes(nio, classOf[PosixFileAttributes])
        new FileStatus(a.size(), false, 1, getDefaultBlockSize(f),
          a.lastModifiedTime().toMillis, a.lastAccessTime().toMillis,
          toFsPermission(a.permissions()), a.owner().getName,
          a.group().getName, target, f)
      } catch {
        case _: NoSuchFileException => // dangling link, as stock reports it
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault,
            "", "", target, f)
      }
    st.setSymlink(org.apache.hadoop.fs.FSLinkResolver.qualifySymlinkTarget(
      getUri, st.getPath, st.getSymlink))
    st
  }
}

/** `fs.file.impl` replacement: stock checksummed LocalFileSystem over the
  * nio raw FS. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` raw binding: what
  * [[org.apache.hadoop.fs.local.RawLocalFs]] is to RawLocalFileSystem. */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(uri: URI, conf: Configuration) = this(conf)
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): org.apache.hadoop.fs.FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("matches the stock RawLocalFs override", "")
  override def getServerDefaults(): org.apache.hadoop.fs.FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl` replacement: stock checksummed
  * FileContext local FS (LocalFs) over the nio raw FS. Instantiated
  * reflectively by Hadoop via the (URI, Configuration) constructor. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFs {
  /** Bind the `file` scheme (FileSystem + FileContext APIs) to the
    * shell-free local FS; [[graft.EngineSession]] applies it to every
    * session. Must be set at builder time — Hadoop caches FileSystem
    * instances per scheme on first use. */
  def configure(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder =
    b.config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
}
