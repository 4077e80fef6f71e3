package cosmoz.localfs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * Checksummed `file:` FileSystem (keeps the .crc sidecars) over
 * NioRawLocalFileSystem. Without it Spark resolves `file:` to Hive's
 * ProxyLocalFileSystem, a LocalFileSystem whose rename refuses to
 * replace an existing file; the same rule is kept here.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
