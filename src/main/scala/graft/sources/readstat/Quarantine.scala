package graft.sources.readstat

import org.apache.hadoop.fs.{Path => HPath}

/** File-level quarantine for `mode=PERMISSIVE` multi-file loads (r10
  * verdict #1).
  *
  * The reference fails an entire read when one container is unreadable
  * (its clean-prefix stop for truncated SAS, `src/sas/data.rs:538-545`,
  * is the only softening); that posture is kept as the FAILFAST default
  * and pinned by CorruptFileSpec. On a 100 TB lake one truncated or
  * half-uploaded container always exists, so PERMISSIVE skips-and-reports
  * at the FILE level instead: driver-side probe failures (header/metadata
  * parse, partition planning, decode-context build) drop the file from
  * the plan; executor-side open or decode failures end that file's range
  * at its clean prefix. Every quarantine emits a Spark-log warning and, when
  * `badFilesPath` is set, one JSON record (`{"path":…,"stage":…,
  * "error":…}`) named by the path's digest — deterministic, so re-planning
  * the same scan overwrites rather than accumulates, and concurrent tasks
  * on different files never collide.
  *
  * Scale note: reporting writes one TINY file per bad container through
  * the same Hadoop FS as the data (works on HDFS/S3A from executors);
  * healthy loads write nothing.
  */
object Quarantine {

  /** Run `body` for `path`; on failure in PERMISSIVE mode report and
    * return None, in FAILFAST rethrow.
    */
  def guard[A](opts: ReadstatOptions, path: String, stage: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case e: Exception if opts.permissive =>
        report(opts, path, stage, e)
        None
    }

  def report(opts: ReadstatOptions, path: String, stage: String, e: Throwable): Unit = {
    org.slf4j.LoggerFactory.getLogger("graft.readstat.quarantine")
      .warn(s"readstat PERMISSIVE: quarantined $path at $stage: ${e.getClass.getName}: ${e.getMessage}")
    opts.badFilesPath.foreach { dir =>
      try {
        val conf = ReadstatIO.sessionConf
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val out = new HPath(dir, s"bad-$digest-$stage.json")
        val fs = out.getFileSystem(conf)
        fs.mkdirs(out.getParent)
        def q(s: String): String = "\"" + s.flatMap {
          case '"' => "\\\""
          case '\\' => "\\\\"
          case '\n' => "\\n"
          case '\r' => "\\r"
          case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"
          case c => c.toString
        } + "\""
        val json = s"""{"path": ${q(path)}, "stage": ${q(stage)}, """ +
          s""""error": ${q(s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}")}}"""
        val os = fs.create(out, true)
        try os.write((json + "\n").getBytes("UTF-8")) finally os.close()
      } catch {
        case re: Exception =>
          org.slf4j.LoggerFactory.getLogger("graft.readstat.quarantine")
            .warn(s"readstat PERMISSIVE: could not write bad-file record for $path: ${re.getMessage}")
      }
    }
  }
}

/** Executor-side wrapper: in PERMISSIVE mode, a failure to open a file's
  * range or to decode it ends the range at its clean prefix (rows already
  * emitted stand — they were decoded intact) and reports the file;
  * FAILFAST readers are never wrapped. `open` runs on the first `next()`,
  * inside the guard, so a file that fails as its reader opens (a seek past
  * a truncated end) is reported like one that fails mid-read. Wraps both
  * the row and columnar paths.
  */
private[readstat] final class PermissiveReader[T](
    open: => org.apache.spark.sql.connector.read.PartitionReader[T],
    opts: ReadstatOptions,
    path: String)
  extends org.apache.spark.sql.connector.read.PartitionReader[T] {
  private var inner: org.apache.spark.sql.connector.read.PartitionReader[T] = _
  private var dead = false
  override def next(): Boolean =
    if (dead) false
    else try {
      if (inner == null) inner = open
      inner.next()
    } catch {
      case e: Exception =>
        dead = true
        Quarantine.report(opts, path, "read", e)
        false
    }
  override def get(): T = inner.get()
  override def close(): Unit = if (inner != null) inner.close()
}
