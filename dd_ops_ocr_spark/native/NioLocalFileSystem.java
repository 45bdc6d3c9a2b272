package ddops.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed {@code file://} FileSystem, with permissions set
 * through {@code java.nio} instead of a forked {@code chmod}.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} runs
 * {@code Shell.execCommand("chmod", mode, path)}, and {@code create} and
 * {@code mkdirs(path, perm)} call it for every file, {@code .crc} sibling
 * and directory they make: one process fork each. {@link Raw} sets the
 * same 9 rwx bits with {@code chmod(2)} and defers to the stock method
 * where the two could differ or where it would not fork anyway:
 * <ul>
 *   <li>libhadoop is loaded ({@code NativeIO.POSIX.chmod}, no fork);</li>
 *   <li>the mode has a bit outside {@code 0777} (sticky);</li>
 *   <li>the path is a directory with setuid or setgid set: GNU
 *       {@code chmod 0755} keeps those bits on a directory, while
 *       {@code chmod(2)} clears them;</li>
 *   <li>the nio call fails, so errors are the stock path's own.</li>
 * </ul>
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} with a fork-free {@code setPermission}. */
  public static class Raw extends RawLocalFileSystem {

    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };
    private static final int S_IFMT = 0170000;
    private static final int S_IFDIR = 0040000;

    @Override
    public void setPermission(Path p, FsPermission permission)
        throws IOException {
      int mode = permission.toShort();
      if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      java.nio.file.Path path = pathToFile(p).toPath();
      try {
        int st = (Integer) Files.getAttribute(path, "unix:mode");
        if ((st & S_IFMT) == S_IFDIR && (st & 06000) != 0) {
          super.setPermission(p, permission);
          return;
        }
        Set<PosixFilePermission> perms =
            EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < BITS.length; i++) {
          if ((mode & (1 << i)) != 0) {
            perms.add(BITS[i]);
          }
        }
        Files.setPosixFilePermissions(path, perms);
      } catch (IOException | UnsupportedOperationException e) {
        super.setPermission(p, permission);
      }
    }
  }
}
