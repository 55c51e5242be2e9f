package dateng.localfs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/**
 * {@code fs.file.impl}: the stock checksummed local filesystem (every
 * {@code .crc} sidecar as before) over {@link NioRawLocalFileSystem}. It
 * must be a {@link LocalFileSystem}: {@code FileSystem.getLocal} casts to it.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  /**
   * Refuses to replace an existing file, as HDFS does. Spark bundles
   * hive-exec, which registers Hive's ProxyLocalFileSystem for
   * {@code file}; Hadoop's service loader picks it when no
   * {@code fs.file.impl} is set, and it differs from LocalFileSystem only
   * in this method.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
