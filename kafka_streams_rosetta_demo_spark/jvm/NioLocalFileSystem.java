package rosetta.fs;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local checksummed {@code file:} FileSystem, with file modes set in
 * process. Without libhadoop, {@code RawLocalFileSystem.setPermission} forks
 * {@code chmod} for every file and directory it creates; here NIO sets the
 * same mode. {@code rename} keeps Hive's {@code ProxyLocalFileSystem} guard,
 * the {@code file:} FS this one replaces: it never replaces an existing file.
 *
 * <p>Rebuild the committed jar from the repository root:
 * <pre>
 * javac --release 17 -cp "$(python -c 'import pyspark,os;print(os.path.dirname(pyspark.__file__))')/jars/*" \
 *   -d build/nio-fs kafka_streams_rosetta_demo_spark/jvm/NioLocalFileSystem.java
 * jar --create --file kafka_streams_rosetta_demo_spark/jvm/nio-local-fs.jar -C build/nio-fs .
 * </pre>
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")  // isFile: the check Hive's guard makes
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** The raw (checksum-free) layer; only {@code setPermission} changes. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission perm) throws IOException {
      if (perm.getStickyBit()) {  // NIO has no sticky bit: chmod sets it
        super.setPermission(p, perm);
        return;
      }
      String rwx = perm.getUserAction().SYMBOL + perm.getGroupAction().SYMBOL
          + perm.getOtherAction().SYMBOL;
      Files.setPosixFilePermissions(pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    }
  }
}
