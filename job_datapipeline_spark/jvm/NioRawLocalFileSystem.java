package jdp.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem whose setPermission and getFileLinkStatus run
 * in-process.
 *
 * <p>Without libhadoop, the stock class forks a {@code chmod} process for
 * every file and directory it creates. The mode it sets (umask already
 * applied by the caller) is the same either way; a mode with a bit beyond
 * rwx, or a filesystem without POSIX attributes, still goes to the stock
 * path.
 *
 * <p>The stock getFileLinkStatus (every {@code FileContext} rename asks it)
 * forks a {@code readlink} on {@code path.toString()}. For a path that is
 * not a symbolic link that fork finds no target and the answer is plain
 * {@code getFileStatus}; one {@code lstat} tells that case apart, and a
 * symlink still goes to the stock path.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final PosixFilePermission[] BITS = {
    PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_READ,
  };

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (1 << i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    } catch (UnsupportedOperationException e) {
      super.setPermission(p, permission);
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
