package wikistream.localfs;

import java.io.IOException;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;

/** {@code fs.file.impl}: the checksummed LocalFileSystem over NioRawLocalFileSystem. */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }

  /**
   * Left unset, {@code fs.file.impl} resolves on pyspark's classpath to
   * Hive's {@code ql.io.ProxyLocalFileSystem} (hive-exec registers the
   * {@code file} scheme after Hadoop does). Its one override is kept: a
   * rename never replaces an existing file.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }
}
