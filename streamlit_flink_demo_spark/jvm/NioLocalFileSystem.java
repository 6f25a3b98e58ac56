package streamlit_flink_demo_spark.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The checksummed local filesystem ({@code fs.file.impl}) over
 * {@link NioRawLocalFileSystem}: the same {@code .crc} side files as the
 * stock {@code LocalFileSystem}, without its child processes.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
