package agespark;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw {@code file://} filesystem without child processes.
 *
 * <p>Without {@code libhadoop.so} the stock class runs a {@code chmod}
 * process for every file and directory it creates, and a {@code readlink}
 * process for every {@code getFileLinkStatus} (FileContext's rename path:
 * every streaming checkpoint and state-store file).  Here both are
 * {@code java.nio} calls; what lands on disk and what comes back are the
 * stock results.  Anything the fast path does not cover goes to the stock
 * code: a sticky bit, a file store without POSIX permissions, a real
 * symbolic link.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
    /** The permission of mode bit i (0 = others execute … 8 = owner read). */
    private static final PosixFilePermission[] MODE_BITS = {
        PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
        PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
        PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
        PosixFilePermission.OWNER_READ,
    };
    private static final int STICKY_BIT = 01000;

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
        short mode = permission.toShort();
        if ((mode & STICKY_BIT) == 0) {
            Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
            for (int i = 0; i < MODE_BITS.length; i++) {
                if ((mode & (1 << i)) != 0) {
                    perms.add(MODE_BITS[i]);
                }
            }
            try {
                Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
                return;
            } catch (UnsupportedOperationException notPosix) {
                // fall through to the stock chmod
            }
        }
        super.setPermission(p, permission);
    }

    /** A path that is not a symbolic link has its own status, which is what
     *  the stock class returns once {@code readlink} prints nothing. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
        if (Files.isSymbolicLink(pathToFile(f).toPath())) {
            return super.getFileLinkStatus(f);
        }
        return getFileStatus(f);
    }
}
