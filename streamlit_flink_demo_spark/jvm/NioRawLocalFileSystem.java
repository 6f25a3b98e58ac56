package streamlit_flink_demo_spark.localfs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.LinkOption;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFileAttributes;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem with its permission and link-status calls
 * answered through java.nio instead of a child process.
 *
 * <p>Without libhadoop, {@code RawLocalFileSystem} runs {@code chmod} for
 * every file and directory it creates ({@code setPermission}), {@code
 * readlink} for every {@code getFileLinkStatus} (each FileContext rename),
 * and {@code ls -ld} the first time a status's permission or owner is read.
 * Here one {@code lstat}/{@code stat} fills the whole status eagerly and
 * {@code chmod} is a system call. Permission bits beyond rwx (sticky,
 * setuid) are not expressible in java.nio and are dropped; Hadoop's local
 * code paths never set them.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  private static final PosixFilePermission[] BITS = {
    PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_READ,
  };

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    int mode = permission.toShort();
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (1 << i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    File file = pathToFile(p);
    try {
      Files.setPosixFilePermissions(file.toPath(), perms);
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + p + " does not exist");
    }
  }

  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    return status(f, true);
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = status(f, false);
    if (fi.isSymlink()) {
      // FileSystem#getFileLinkStatus returns a qualified link target
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(
          getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return status(f, false).getSymlink();
  }

  @Override
  public FileStatus[] listStatus(Path f) throws IOException {
    // the stock class builds a file's own status without getFileStatus
    if (!pathToFile(f).isDirectory()) {
      return new FileStatus[] {getFileStatus(f)};
    }
    return super.listStatus(f);
  }

  private FileStatus status(Path f, boolean follow) throws IOException {
    File file = pathToFile(f);
    PosixFileAttributes a;
    try {
      a = follow
          ? Files.readAttributes(file.toPath(), PosixFileAttributes.class)
          : Files.readAttributes(file.toPath(), PosixFileAttributes.class,
              LinkOption.NOFOLLOW_LINKS);
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + f + " does not exist");
    }
    int mode = 0;
    for (int i = 0; i < BITS.length; i++) {
      if (a.permissions().contains(BITS[i])) {
        mode |= 1 << i;
      }
    }
    Path link = a.isSymbolicLink()
        ? new Path(Files.readSymbolicLink(file.toPath()).toString())
        : null;
    return new FileStatus(a.size(), a.isDirectory(), 1, getDefaultBlockSize(f),
        a.lastModifiedTime().toMillis(), a.lastAccessTime().toMillis(),
        new FsPermission((short) mode), a.owner().getName(),
        a.group().getName(), link,
        new Path(file.getPath()).makeQualified(getUri(), getWorkingDirectory()));
  }
}
