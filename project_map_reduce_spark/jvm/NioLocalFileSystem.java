package pmrs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** The file:// file system with one chmod(2) per setPermission. Without
 * Hadoop's native library, RawLocalFileSystem forks a `chmod` child for
 * every local file create and mkdir; this sets the same mode in-process. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    // PosixFilePermission lists owner, group, others as rwx: bit 8 first.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {  // sticky, setuid, setgid: beyond NIO's nine bits
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
