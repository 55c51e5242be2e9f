package dateng.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.local.LocalConfigKeys;

/**
 * {@code fs.AbstractFileSystem.file.impl}, for callers that write through
 * {@code FileContext} (streaming checkpoints, the state store). The stock
 * {@code LocalFs} shape, a checksummed filesystem over a
 * {@code RawLocalFs}, with {@link NioRawLocalFileSystem} underneath.
 */
public class NioLocalFs extends ChecksumFs {
  public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
    super(new Raw(uri, conf));
  }

  /** The stock {@code RawLocalFs}, whose constructors are package-private. */
  static final class Raw extends DelegateToFileSystem {
    Raw(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new NioRawLocalFileSystem(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
