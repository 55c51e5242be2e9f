package dateng.localfs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * The stock raw local filesystem, except that {@link #setPermission} sets
 * the nine rwx bits through java.nio. Without native libhadoop the stock
 * class forks a {@code chmod} process for every file and directory it
 * creates; with libhadoop loaded, or for a mode with bits beyond 0777
 * (sticky, setuid, setgid), this class defers to it.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** OWNER_READ .. OTHERS_EXECUTE: the enum lists them from bit 0400 down. */
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }
}
