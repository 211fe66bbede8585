package agespark;

import org.apache.hadoop.fs.LocalFileSystem;

/**
 * The checksummed {@code file://} FileSystem (parquet writes, {@code _SUCCESS},
 * mkdirs) over {@link NioRawLocalFileSystem}: the stock
 * {@code LocalFileSystem}, {@code .crc} files included, without the
 * {@code chmod} processes.  Selected by {@code fs.file.impl}.
 */
public class NioLocalFileSystem extends LocalFileSystem {
    public NioLocalFileSystem() {
        super(new NioRawLocalFileSystem());
    }
}
