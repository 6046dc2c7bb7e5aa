package singer_tap_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system ({@code .crc} sidecars, read-side
 * CRC checks) with one change: {@code setPermission} sets a plain rwx mode
 * through java.nio. Without libhadoop.so the stock RawLocalFileSystem forks
 * one {@code chmod} process per file, sidecar and directory it creates.
 * Registered as {@code fs.file.impl}; {@link Fs} is the FileContext twin
 * ({@code fs.AbstractFileSystem.file.impl}) that streaming checkpoints use.
 */
public class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  public LocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem whose setPermission does not fork. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      // sticky / setuid / setgid have no PosixFilePermission: keep chmod
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      // enum order is OWNER_READ .. OTHERS_EXECUTE, i.e. bits 0400 .. 0001
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);  // not a POSIX file system
      }
    }
  }

  /** FileContext twin of LocalFileSystem, as Hadoop's LocalFs over RawLocalFs. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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
      return true;  // local paths may hold ':' and other HDFS-invalid names
    }
  }
}
