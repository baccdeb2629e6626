package graft.operators

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The table format's `file:` filesystem: Hadoop's checksummed
  * `LocalFileSystem` (same file names, bytes, `.crc` sidecars and modes)
  * over a raw filesystem that starts no child process. Without the
  * native Hadoop library, Hadoop's own raw filesystem runs `chmod` for
  * every file and directory it creates with a permission — a written
  * file and its sidecar cost two processes. */
class LocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the same bits through
  * `java.nio` instead of a `chmod` process. A sticky bit, which `java.nio`
  * cannot express, keeps Hadoop's path. The mode comes from the three
  * actions, not `toString`: Hadoop hands `create` an `FsCreateModes`,
  * whose string form is not a mode. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit) super.setPermission(p, perm)
    else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.nio.file.attribute.PosixFilePermissions.fromString(
        perm.getUserAction.SYMBOL + perm.getGroupAction.SYMBOL +
          perm.getOtherAction.SYMBOL))
}
