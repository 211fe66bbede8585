package agespark;

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
 * The checksummed {@code file://} AbstractFileSystem (the FileContext API:
 * streaming checkpoints and the HDFS-backed state store) over
 * {@link NioRawLocalFileSystem}: the stock {@code local.LocalFs} without
 * the {@code chmod} and {@code readlink} processes.  Selected by
 * {@code fs.AbstractFileSystem.file.impl}.
 */
public class NioLocalFs extends ChecksumFs {
    /** The constructor {@code AbstractFileSystem.newInstance} calls. */
    public NioLocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
        super(new Raw(conf));
    }

    /** {@code local.RawLocalFs} over the fork-free raw filesystem. */
    static final class Raw extends DelegateToFileSystem {
        Raw(Configuration conf) throws IOException, URISyntaxException {
            super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
                    FsConstants.LOCAL_FS_URI.getScheme(), false);
        }

        @Override
        public int getUriDefaultPort() {
            return -1; // file:/// has no port
        }

        @Override
        @Deprecated
        public FsServerDefaults getServerDefaults() throws IOException {
            return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public FsServerDefaults getServerDefaults(Path f) throws IOException {
            return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public boolean isValidName(String src) {
            return true; // the OS validates local names
        }
    }
}
