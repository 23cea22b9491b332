package graft.hadoop

import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem for hosts without the Hadoop native library
  * (libhadoop): stock [[RawLocalFileSystem]] falls back to SHELLING
  * OUT for every permission operation — `chmod` on every
  * `create`/`mkdirs` (so once per written file, staged commit file
  * and output-committer directory) and `ls -ld` on every
  * `getPermission` (which Spark's scan listing forces per file when
  * it builds `LocatedFileStatus`). A `fork+exec` costs milliseconds;
  * a multi-commit lake operation pays hundreds of them, all serial
  * driver time (guide §7.3: driver-side gaps between jobs).
  *
  * [[NioRawLocalFileSystem]] answers both through java.nio instead:
  *
  *  - [[setPermission]] → `Files.setPosixFilePermissions` (one
  *    syscall). All internal Hadoop call sites (`create`, `mkdirs`,
  *    output streams) dispatch virtually, so they inherit the fix.
  *  - [[getFileStatus]]/[[listStatus]] → statuses whose permission,
  *    owner and group are pre-filled from one
  *    `Files.readAttributes(PosixFileAttributes)` call, so no later
  *    `getPermission` can trigger the lazy `ls -ld` load.
  *
  * Semantics are unchanged (same bits on disk, same visibility);
  * only the syscall path differs. Select it per session with
  * `spark.hadoop.fs.file.impl=graft.hadoop.NioLocalFileSystem`.
  * It is the checksumming `LocalFileSystem` wrapper over
  * [[NioRawLocalFileSystem]], because Hadoop's `FileSystem.getLocal`
  * casts the `file:` filesystem to that class (the RocksDB state
  * store uploads its snapshots through it). Checksums are off, so no
  * `.crc` sidecars are written — the manifest commit protocol carries
  * its own integrity (hard-link CAS + immutable files), and parquet
  * pages carry format-level checksums.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  setWriteChecksum(false)
  setVerifyChecksum(false)
}

/** The NIO raw filesystem as an `AbstractFileSystem`, for the
  * FileContext API — Spark's STREAMING checkpoint/state-store writes
  * go through `CheckpointFileManager` → `FileContext`, which resolves
  * `fs.AbstractFileSystem.file.impl`, NOT `fs.file.impl`; without
  * this twin every state-store delta/snapshot file of every
  * micro-batch pays the same `chmod` fork (and a `.crc` sidecar).
  * Select with
  * `spark.hadoop.fs.AbstractFileSystem.file.impl=graft.hadoop.NioLocalFs`.
  */
class NioLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, "file", false)

/** The raw `file:` filesystem with the NIO permission and status paths. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    try {
      Files.setPosixFilePermissions(
        Paths.get(pathToFile(p).getAbsolutePath), toNio(permission.toShort))
      ()
    } catch {
      // non-POSIX store or concurrent delete: the stock shell path is
      // the compatible fallback, and it surfaces real errors loudly
      case _: UnsupportedOperationException | _: java.io.IOException =>
        super.setPermission(p, permission)
    }

  override def getFileStatus(f: Path): FileStatus =
    fill(super.getFileStatus(f))

  /** Symlink-aware status via NIO: the stock path shells out
    * `readlink` on EVERY call — and `AbstractFileSystem.rename`
    * (the FileContext route Spark's streaming checkpoint manager
    * uses for every state-store delta/offset/commit file) calls it
    * up to three times per rename. Non-links (the only thing the
    * engine ever writes) short-circuit to a fork-free status.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val isLink =
      try Files.isSymbolicLink(
        Paths.get(pathToFile(f).getAbsolutePath))
      catch { case _: RuntimeException =>
        return super.getFileLinkStatus(f) }
    if (isLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val base = super.listStatus(f)
    if (base == null) null else base.map(fill)
  }

  /** A status equal to `st` but with permission/owner/group resolved
    * eagerly through java.nio — one attribute read instead of a lazy
    * per-file `ls -ld` fork when someone (Spark's `LocatedFileStatus`
    * copy constructor, FileUtil) asks for the permission later.
    */
  private def fill(st: FileStatus): FileStatus =
    if (st == null || st.isSymlink) st
    else try {
      val nio = Paths.get(pathToFile(st.getPath).getAbsolutePath)
      val view = Files.getFileAttributeView(nio,
        classOf[PosixFileAttributeView], LinkOption.NOFOLLOW_LINKS)
      if (view == null) st
      else {
        val attrs = view.readAttributes()
        new FileStatus(st.getLen, st.isDirectory, st.getReplication,
          st.getBlockSize, st.getModificationTime, st.getAccessTime,
          new FsPermission(fromNio(attrs.permissions())),
          attrs.owner().getName, attrs.group().getName, st.getPath)
      }
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException => st
    }

  private def toNio(bits: Short): java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    val order = Seq(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
      GROUP_EXECUTE, GROUP_WRITE, GROUP_READ,
      OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
    order.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (1 << i)) != 0) out.add(p): Unit
    }
    out
  }

  private def fromNio(perms: java.util.Set[PosixFilePermission]): Short = {
    import PosixFilePermission._
    val order = Seq(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ,
      GROUP_EXECUTE, GROUP_WRITE, GROUP_READ,
      OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)
    var bits = 0
    order.zipWithIndex.foreach { case (p, i) =>
      if (perms.contains(p)) bits |= (1 << i)
    }
    bits.toShort
  }
}
