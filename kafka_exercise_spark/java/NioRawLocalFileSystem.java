package sparkgraft.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local file system with chmod and readlink done as system calls.
 *
 * Without libhadoop, RawLocalFileSystem forks a chmod process for every file
 * and directory it creates with a permission (the .crc sidecars included),
 * and FileUtil.readLink forks a readlink process for every
 * getFileLinkStatus, which the FileContext rename calls several times per
 * checkpoint file. Everything else is Hadoop's own code: checksums, the
 * FileContext rename, and the umask applied before setPermission.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  private static final PosixFilePermission[] MODE_BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    if (permission.getStickyBit()) {
      // java.nio has no sticky bit; keep Hadoop's chmod for it.
      super.setPermission(p, permission);
      return;
    }
    int mode = permission.toShort();
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    // values() runs owner r/w/x, group r/w/x, others r/w/x: mode bits 8..0.
    for (int i = 0; i < MODE_BITS.length; i++) {
      if ((mode & (1 << (8 - i))) != 0) {
        perms.add(MODE_BITS[i]);
      }
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
  }

  /** Hadoop's default (deprecated-stat) link status, minus the fork. */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    if (fi.isSymlink()) {
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();
  }

  private FileStatus linkStatus(Path f) throws IOException {
    String target = readLink(new File(f.toString()));
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
          fs.getOwner(), fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      // File.exists is false for a dangling link.
      if (!target.isEmpty()) {
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(),
            "", "", new Path(target), f);
      }
      throw e;
    }
  }

  /** FileUtil.readLink without the process: "" when f is not a link. */
  private static String readLink(File f) {
    try {
      java.nio.file.Path p = f.toPath();
      return Files.isSymbolicLink(p) ? Files.readSymbolicLink(p).toString().trim() : "";
    } catch (IOException | InvalidPathException e) {
      return "";
    }
  }

  /** The checksummed FileSystem over it: {@code fs.file.impl}. */
  public static class Local extends LocalFileSystem {
    public Local() {
      super(new NioRawLocalFileSystem());
    }
  }

  /** Hadoop's RawLocalFs over it, for FileContext. */
  public static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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

  /** The checksummed FileContext file system: {@code fs.AbstractFileSystem.file.impl}. */
  public static class LocalFs extends ChecksumFs {
    /** AbstractFileSystem's reflective constructor; like Hadoop's LocalFs it ignores uri. */
    LocalFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }
}
