package graft.sources.readstat

import java.io.{EOFException, File, FileInputStream, FileNotFoundException, IOException}
import java.nio.ByteBuffer
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FSDataInputStream, FSExceptionMessages, FSInputStream, FileStatus, FileSystem, RawLocalFileSystem, Path => HPath}

/** The source's and sink's file access: listing, stat and open.
  *
  * Local files (scheme `file`, written in the path or taken from
  * `fs.defaultFS`) are listed, stat'ed and opened through the JDK. Hadoop's
  * `LocalFileSystem` answers the same calls with several stats and `Path`
  * qualifications per file: about 30 µs per open against 2 µs, and about
  * 30 ms per listing of a 4,000-file directory against 4 ms. The JDK path
  * gives what Hadoop's gives: qualified `file:/…` paths, the same stamps
  * and exceptions, a stream with the same seek and EOF behaviour, and every
  * byte it reads counted in Hadoop's `file` statistics, which Spark's task
  * input metrics sum. A local file with a `.<name>.crc` side file (anything
  * written through Hadoop's local file system, such as the sink's spill
  * parts) still opens through Hadoop's `ChecksumFileSystem`, so its
  * checksum is verified. Every
  * other scheme (HDFS, S3A, …) goes through Hadoop's `FileSystem`.
  *
  * The effective Configuration is, in order: the conf installed by the scan's
  * reader factory (executor side, the driver session's conf as
  * [[SerializableHadoopConf.current]] broadcast it), else
  * the active SparkSession's `sparkContext.hadoopConfiguration` (driver
  * side), else a fresh default — so credentials/tuning set via
  * `spark.hadoop.*` reach every open on both sides.
  */
object ReadstatIO {
  // per-thread install: DSv2 readers create and consume on the task thread,
  // so a thread-local cannot race across concurrent queries with different
  // Hadoop confs the way a process-global did (r2 ADVICE #2); every reader
  // factory re-installs before its first open, so pooled task threads never
  // act on a stale conf
  private val installed = new ThreadLocal[Configuration]()

  def setConf(c: Configuration): Unit = installed.set(c)

  def sessionConf: Configuration = {
    val c = installed.get()
    if (c != null) c
    else org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
  }

  /** A file as one listing saw it: path, length and modification time.
    * Planning keys its per-file work by it.
    */
  final case class FileStamp(path: String, len: Long, mtime: Long)

  /** A path as one listing saw it: a directory's files (no subdirectories,
    * no `.crc` side files) in no set order, or a file as itself. Stamp
    * paths are qualified (`file:/…`), as Hadoop's listing gives them.
    */
  final case class Entries(isDir: Boolean, files: Seq[FileStamp])

  def open(path: String): FSDataInputStream = {
    val hp = new HPath(path)
    localFile(hp) match {
      case Some(f) if !new File(f.getParentFile, s".${f.getName}.crc").exists() =>
        LocalInput.open(hp, f, sessionConf.getInt("io.file.buffer.size", 4096))
      case _ => hp.getFileSystem(sessionConf).open(hp)
    }
  }

  def stamp(path: String): FileStamp = {
    val hp = new HPath(path)
    localFile(hp) match {
      case Some(f) =>
        val a = attributes(f.toPath).getOrElse(throw new FileNotFoundException(s"File $hp does not exist"))
        FileStamp(path, a.size, a.lastModifiedTime.toMillis)
      case None =>
        val st = hp.getFileSystem(sessionConf).getFileStatus(hp)
        FileStamp(path, st.getLen, st.getModificationTime)
    }
  }

  def exists(path: String): Boolean = {
    val hp = new HPath(path)
    localFile(hp) match {
      case Some(f) => attributes(f.toPath).isDefined
      case None => hp.getFileSystem(sessionConf).exists(hp)
    }
  }

  /** `p` as one listing sees it, None when it does not exist. */
  def entries(p: String): Option[Entries] = {
    val hp = new HPath(p)
    localFile(hp) match {
      case Some(f) =>
        val jp = f.toPath
        attributes(jp).map { a =>
          val q = qualified(f)
          if (!a.isDirectory) Entries(isDir = false, Seq(FileStamp(q, a.size, a.lastModifiedTime.toMillis)))
          else {
            val prefix = if (q.endsWith("/")) q else q + "/"
            val ds = Files.newDirectoryStream(jp)
            try Entries(isDir = true, ds.iterator().asScala.flatMap { c =>
              val n = c.getFileName.toString
              if (isChecksumFile(n)) None
              else attributes(c).filterNot(_.isDirectory)
                .map(ca => FileStamp(prefix + n, ca.size, ca.lastModifiedTime.toMillis))
            }.toVector)
            finally ds.close()
          }
        }
      case None =>
        val fs = hp.getFileSystem(sessionConf)
        def stampOf(st: FileStatus) = FileStamp(st.getPath.toString, st.getLen, st.getModificationTime)
        val st = try Some(fs.getFileStatus(hp)) catch { case _: FileNotFoundException => None }
        st.map { s =>
          if (s.isDirectory) Entries(isDir = true, fs.listStatus(hp).toSeq.filter(_.isFile).map(stampOf))
          else Entries(isDir = false, Seq(stampOf(s)))
        }
    }
  }

  /** The last segment of a stamp's path. */
  def name(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** `in` behind a read buffer of `min(bytesLeft, 1 MB)`: parsing a small
    * file's metadata must not allocate and fill a 1 MB buffer.
    */
  def buffered(in: java.io.InputStream, bytesLeft: Long): java.io.BufferedInputStream =
    new java.io.BufferedInputStream(in, math.max(1L, math.min(bytesLeft, 1L << 20)).toInt)

  /** Driver-side concurrent map over files (metadata parses are IO-bound
    * and independent); preserves input order.
    */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(2, xs.length)))
      try {
        val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
          def call(): B = f(x)
        }))
        futures.map(_.get())
      } finally pool.shutdown()
    }

  /** One listing of `ps`: a directory resolves to its contained readstat
    * files (sorted by name), a plain path to itself. A missing plain path
    * keeps the stamp (-1, -1), so its parse fails like any unreadable
    * file's.
    */
  def listFiles(ps: Seq[String]): Seq[FileStamp] = ps.flatMap { p =>
    entries(p) match {
      case Some(Entries(true, files)) =>
        // compaction-aware (r11): compacted containers count only once their
        // marker is committed; epoch parts covered by an active marker are
        // retired garbage (see Compaction's atomic-swap contract)
        val keep = Compaction.filterNames(files.map(f => name(f.path)))
        files.filter { f =>
          val n = name(f.path)
          keep(n) && ReadstatOptions.formatOf(n).isDefined
        }.sortBy(_.path)
      case Some(Entries(false, files)) => files.map(_.copy(path = p))
      case None => Seq(FileStamp(p, -1L, -1L))
    }
  }

  private val LocalUri = java.net.URI.create("file:///")

  /** The local file behind `hp`, or None when another file system serves it. */
  private def localFile(hp: HPath): Option[File] = {
    val uri = hp.toUri
    val scheme = if (uri.getScheme != null) uri.getScheme else FileSystem.getDefaultUri(sessionConf).getScheme
    if (scheme == "file" && (uri.getAuthority == null || uri.getAuthority.isEmpty))
      Some(new File(uri.getPath).getAbsoluteFile)
    else None
  }

  /** `f` as Hadoop's local file system names it in a listing (`f` is
    * absolute, so no working directory is needed).
    */
  private def qualified(f: File): String = new HPath(f.getPath).makeQualified(LocalUri, null).toString

  /** `p`'s attributes (links followed), None when it cannot be stat'ed: Hadoop's
    * local file system treats any failed stat as a missing file.
    */
  private def attributes(p: JPath): Option[BasicFileAttributes] =
    try Some(Files.readAttributes(p, classOf[BasicFileAttributes]))
    catch { case _: IOException => None }

  /** The side files `ChecksumFileSystem` hides from its listings. */
  private def isChecksumFile(name: String): Boolean = name.startsWith(".") && name.endsWith(".crc")

  /** The stream `RawLocalFileSystem.open` builds, over the JDK: positioned
    * reads go through the file's channel, every byte read is added to the
    * statistics Hadoop's own local reads count in, and seeking past the end
    * throws as `LocalFileSystem`'s stream does.
    */
  private final class LocalInput(fis: FileInputStream) extends FSInputStream {
    private val channel = fis.getChannel
    private var pos = 0L

    override def seek(to: Long): Unit = {
      if (to < 0) throw new EOFException(FSExceptionMessages.NEGATIVE_SEEK)
      if (to > channel.size()) throw new EOFException("Cannot seek after EOF")
      channel.position(to)
      pos = to
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def available(): Int = fis.available()
    override def markSupported(): Boolean = false
    override def close(): Unit = fis.close()

    override def read(): Int = {
      val v = fis.read()
      if (v >= 0) { pos += 1; LocalInput.stats.incrementBytesRead(1) }
      v
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      validatePositionedReadArgs(pos, b, off, len)
      val n = fis.read(b, off, len)
      if (n > 0) { pos += n; LocalInput.stats.incrementBytesRead(n) }
      n
    }
    override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
      validatePositionedReadArgs(position, b, off, len)
      if (len == 0) 0
      else {
        val n = channel.read(ByteBuffer.wrap(b, off, len), position)
        if (n > 0) LocalInput.stats.incrementBytesRead(n)
        n
      }
    }
  }

  private object LocalInput {
    @annotation.nowarn("cat=deprecation")
    val stats: FileSystem.Statistics = FileSystem.getStatistics("file", classOf[RawLocalFileSystem])

    def open(hp: HPath, f: File, bufferSize: Int): FSDataInputStream = {
      val fis =
        try new FileInputStream(f)
        catch {
          case e: FileNotFoundException =>
            if (f.exists()) throw e else throw new FileNotFoundException(s"File $hp does not exist")
        }
      val in = new LocalInput(fis)
      new FSDataInputStream(new BufferedFSInputStream(in, bufferSize) {
        // skipping past the end stops at it, as LocalFileSystem's stream does
        override def skip(n: Long): Long = super.skip(math.min(n, fis.getChannel.size() - getPos))
      })
    }
  }
}
