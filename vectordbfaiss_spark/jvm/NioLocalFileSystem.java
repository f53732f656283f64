package vectordbfaiss;

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
 * Hadoop's checksummed local file system with permissions set in-process.
 *
 * <p>Without the native Hadoop library, RawLocalFileSystem.setPermission
 * runs {@code chmod} in a child process, and every file and directory a
 * DataFrame write creates goes through it. Each child starts as a copy of
 * the JVM's address space, so a write costs one process spawn per file
 * and briefly doubles the JVM's resident memory as seen from /proc. Here
 * the same mode is set with java.nio instead.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission.values() runs owner r/w/x .. others r/w/x,
    // which is mode bit 8 down to bit 0
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) { // java.nio cannot set the sticky bit
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << (8 - i))) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
