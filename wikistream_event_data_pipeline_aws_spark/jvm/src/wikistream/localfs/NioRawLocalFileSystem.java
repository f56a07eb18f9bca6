package wikistream.localfs;

import java.io.File;
import java.io.IOException;
import java.nio.file.FileSystems;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * A RawLocalFileSystem that sets permissions and probes symlinks with
 * java.nio instead of a child process. Without the native hadoop
 * library the parent forks {@code chmod} for every file and directory
 * it creates and {@code readlink} for every FileContext rename. Cases
 * the in-JVM call cannot reproduce bit for bit (the native library is
 * loaded, special mode bits, a real symlink, a platform without POSIX
 * modes) go to the parent unchanged.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {
  private static final boolean UNIX =
      FileSystems.getDefault().supportedFileAttributeViews().contains("unix");
  // PosixFilePermission declares owner r,w,x, group r,w,x, others r,w,x:
  // the mode bits 0400 down to 0001
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if (NativeIO.isAvailable() || !UNIX || (mode & ~0777) != 0) {
      super.setPermission(p, permission);
      return;
    }
    java.nio.file.Path file = pathToFile(p).toPath();
    // a four-digit `chmod 0755` keeps a directory's setuid/setgid bits,
    // which setPosixFilePermissions would clear
    if (((Integer) Files.getAttribute(file, "unix:mode") & 07000) != 0) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    Files.setPosixFilePermissions(file, perms);
  }

  /**
   * The parent runs {@code readlink} on {@code new File(f.toString())}
   * and, when it prints nothing, returns {@code getFileStatus(f)}. For a
   * qualified path that name starts with {@code file:} and never
   * exists, so only a real symlink reaches the parent.
   */
  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    try {
      if (!Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return getFileStatus(f);
      }
    } catch (InvalidPathException e) {
      // a name java.nio rejects; the parent's shell decides
    }
    return super.getFileLinkStatus(f);
  }
}
