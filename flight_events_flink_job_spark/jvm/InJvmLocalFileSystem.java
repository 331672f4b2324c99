package flightspark.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem with {@code setPermission} done inside the JVM.
 * Without Hadoop's native library, {@link RawLocalFileSystem#setPermission}
 * forks a {@code chmod} process for every file and directory it creates;
 * here the same mode bits go through {@code java.nio}. Checksums, the
 * committer and the written layout are Hadoop's own.
 *
 * <p>{@code fs.file.impl} names this class (the {@code FileSystem} API);
 * {@code fs.AbstractFileSystem.file.impl} names {@link Fs} (the
 * {@code FileContext} API, which the streaming checkpoint logs use).
 */
public class InJvmLocalFileSystem extends LocalFileSystem {
  public InJvmLocalFileSystem() {
    super(new Raw());
  }

  /** {@code RawLocalFileSystem} whose chmod runs in-process. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) == 0) {  // sticky and set-id bits have no nio spelling
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(),
              PosixFilePermissions.fromString(FsPermission.createImmutable((short) mode).toString()));
          return;
        } catch (UnsupportedOperationException e) {
          // not a POSIX filesystem: let Hadoop handle it
        }
      }
      super.setPermission(p, permission);
    }
  }

  /** {@code org.apache.hadoop.fs.local.LocalFs} over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** {@code org.apache.hadoop.fs.local.RawLocalFs} over {@link Raw}, same overrides. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
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
      return true;
    }
  }
}
