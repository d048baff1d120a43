package golang_mapreduce_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local {@code file:} filesystem, with permissions set inside the JVM.
 *
 * <p>Without libhadoop, {@code RawLocalFileSystem.setPermission} forks a
 * {@code chmod} process for every file, {@code .crc} sidecar and directory it
 * creates with a permission. {@link Raw} sets the same mode bits through
 * {@code java.nio}. It keeps the stock method for a sticky bit, which
 * {@code java.nio} cannot set, and for a file store with no POSIX view.
 */
public class PosixLocalFileSystem extends LocalFileSystem {
  public PosixLocalFileSystem() {
    super(new Raw());
  }

  /** The raw filesystem under the checksums. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), posix(permission.toShort()));
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }

    /** PosixFilePermission lists owner rwx, group rwx, others rwx: mode bits 8 to 0. */
    static Set<PosixFilePermission> posix(short mode) {
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      PosixFilePermission[] all = PosixFilePermission.values();
      for (int i = 0; i < all.length; i++) {
        if ((mode & (1 << (all.length - 1 - i))) != 0) {
          perms.add(all[i]);
        }
      }
      return perms;
    }
  }
}
