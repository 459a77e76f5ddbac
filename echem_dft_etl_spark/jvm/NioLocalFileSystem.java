package echem_dft_etl_spark.jvm;

import java.io.File;
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
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem ({@code file://}) without child
 * processes.
 *
 * <p>Without {@code libhadoop}, {@link RawLocalFileSystem} runs
 * {@code chmod} in a child process for every file it creates and every
 * directory it makes, and {@code readlink} for every
 * {@code getFileLinkStatus} (FileContext looks up every path that way).
 * {@link Raw} overrides exactly those two methods with java.nio calls;
 * everything else, {@code .crc} checksums included, is Hadoop's own code.
 *
 * <p>Bind it with {@code fs.file.impl} (this class) and
 * {@code fs.AbstractFileSystem.file.impl} ({@link Fs}).
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** Refuses to replace an existing file, like Hive's
   * {@code ProxyLocalFileSystem}: with Spark's Hive jars on the
   * classpath, Hadoop's service loader binds {@code file://} to that
   * class, and this one takes its place. */
  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    if (isFile(dst)) {
      return false;
    }
    return super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} with fork-free chmod and link lookup. */
  public static class Raw extends RawLocalFileSystem {

    /** Permission of mode bit {@code i}, lowest bit first. */
    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    /** Same file and mode as Hadoop's {@code chmod}; modes with bits
     * above 0777 (sticky) take Hadoop's path. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /** Hadoop asks {@code readlink} about {@code new File(f.toString())}
     * and treats an empty answer as "not a link"; ask the same path, and
     * only run Hadoop's lookup for a link. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** FileContext binding: Hadoop's {@code LocalFs} over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's {@code RawLocalFs} over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, "file", false);
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
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
