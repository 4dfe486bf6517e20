package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * The `file:` filesystem of every engine JVM, registered for both Hadoop
 * APIs by `core-site.xml` on the classpath (`fs.file.impl`,
 * `fs.AbstractFileSystem.file.impl`).
 *
 * Why it exists: the Spark distribution ships no `libhadoop`, and without
 * native IO Hadoop 3.4.2's local filesystem forks a process for two calls
 * that every checkpoint write makes:
 *  - `RawLocalFileSystem.setPermission` runs `chmod`; `create` and
 *    `mkdirs` with a permission call it for every file and directory
 *    (offset/commit logs, state-store deltas and checksum files, graft-kv
 *    segments and manifests, parquet output);
 *  - `RawLocalFileSystem.getFileLinkStatus` runs `readlink` through
 *    `FileUtil.readLink`; `FileContext.rename` calls it on the source, the
 *    destination and its parent.
 * Each launch costs 2–3 ms, about 80 per streaming trigger. This class does
 * both in-process through `java.nio.file`: the same nine permission bits,
 * and a plain `getFileStatus` for a path that is not a symbolic link.
 * Sticky/setuid bits and real symbolic links still take Hadoop's own code.
 *
 * Delete this file and `core-site.xml` once the Hadoop on the classpath
 * does these calls through NIO, or once native IO is always present
 * (`NativeIO.isAvailable`).
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE: mode bits 8 down to 0
      val perms = PosixFilePermission.values.zipWithIndex
        .collect { case (perm, i) if (mode & (0x100 >> i)) != 0 => perm }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` twin of
 * [[NioLocalFileSystem]], mirroring Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
 * [[NioRawLocalFileSystem]], with the same overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("deprecated in AbstractFileSystem; overridden as RawLocalFs does", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept; leave it to the OS
  override def isValidName(src: String): Boolean = true
}
