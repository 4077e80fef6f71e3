package cosmoz.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/**
 * Checksummed `file:` AbstractFileSystem (FileContext: streaming
 * checkpoints, state store) over NioRawLocalFs, like
 * org.apache.hadoop.fs.local.LocalFs, which also ignores the URI.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
