package streamlit_flink_demo_spark.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;

/**
 * The checksummed local {@code AbstractFileSystem}
 * ({@code fs.AbstractFileSystem.file.impl}) that FileContext uses, over
 * {@link NioRawLocalFileSystem}. The stock {@code LocalFs} cannot be reused:
 * its raw layer, {@code RawLocalFs}, constructs a plain
 * {@code RawLocalFileSystem}. FileContext keeps its non-overwriting rename.
 */
public class NioLocalFs extends ChecksumFs {

  public NioLocalFs(URI uri, Configuration conf)
      throws IOException, URISyntaxException {
    super(new Raw(uri, conf));
  }

  /** {@code RawLocalFs} with the NIO raw filesystem as its delegate. */
  static class Raw extends DelegateToFileSystem {

    Raw(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
