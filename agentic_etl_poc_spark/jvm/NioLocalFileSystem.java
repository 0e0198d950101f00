package agentic_etl_poc_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, setting permissions through
 * java.nio instead of a process.  Without libhadoop,
 * RawLocalFileSystem.setPermission runs chmod in a new process for every
 * file and directory it creates (part files, .crc twins, _SUCCESS,
 * _temporary dirs, checkpoint and file-sink logs).  The caller has applied
 * the umask already.  Symlinks are followed, as chmod follows them.  A mode
 * with bits above the nine rwx bits (sticky) keeps Hadoop's own path.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    /** OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 down to 01. */
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
