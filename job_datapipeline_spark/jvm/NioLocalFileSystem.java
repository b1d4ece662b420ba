package jdp.fs;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * LocalFileSystem ({@code .crc} checksums unchanged) over
 * {@link NioRawLocalFileSystem}, for {@code FileSystem} callers.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
