package cosmoz.localfs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * RawLocalFileSystem that starts no process. Without libhadoop the stock
 * class runs `chmod` for every file and directory it creates and
 * `readlink` for every link-status check; these two overrides give the
 * same results through java.nio and defer to the stock code for anything
 * else (sticky/setuid bits, symlinks, a loaded NativeIO, non-POSIX).
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    short mode = permission.toShort();
    if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(),
          PosixFilePermissions.fromString(permission.toString().substring(0, 9)));
    } catch (UnsupportedOperationException e) {
      super.setPermission(p, permission);
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (NativeIO.isAvailable() || Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
