package adventureworkslakehousepoc.fs;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * RawLocalFileSystem whose chmod and readlink are system calls made through
 * java.nio. Without Hadoop's native library the parent forks a chmod process
 * for every file and directory it creates and a readlink process for every
 * link-status lookup (two per FileContext rename).
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) with the full mode, sticky bit included; follows links like chmod(1). */
  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    Files.setAttribute(pathToFile(p).toPath(), "unix:mode", (int) permission.toShort());
  }

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

  /**
   * The parent's link status with an unqualified target: a non-link is its
   * getFileStatus, a live link that status with the link's target and path,
   * a dangling link a placeholder status.
   */
  private FileStatus linkStatus(Path f) throws IOException {
    String target = readLink(f);
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
          fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      if (!target.isEmpty()) {
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      throw e;
    }
  }

  /** readlink(2) of the local file behind {@code f}; "" when it is not a link. */
  private String readLink(Path f) {
    try {
      return Files.readSymbolicLink(pathToFile(f).toPath()).toString();
    } catch (IOException | UnsupportedOperationException e) {
      return "";
    }
  }
}
