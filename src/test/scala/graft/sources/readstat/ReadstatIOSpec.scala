package graft.sources.readstat

import java.nio.file.{Files, Path, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{BufferedFSInputStream, ChecksumException, FSDataInputStream, FileSystem, Path => HPath}

import graft.SparkSpec

/** [[ReadstatIO]] serves local files through the JDK; this spec holds it to
  * what Hadoop's local file system answers for the same calls: the stream's
  * reads, seeks and EOF behaviour, its exceptions, the statistics its bytes
  * count in, and the listing and stamps planning keys its work by.
  */
class ReadstatIOSpec extends SparkSpec {

  private def hadoopFs(p: String): FileSystem = new HPath(p).getFileSystem(ReadstatIO.sessionConf)
  private def hadoopOpen(p: String): FSDataInputStream = hadoopFs(p).open(new HPath(p))

  /** The Hadoop listing `ReadstatIO.listFiles` returned before it served
    * local paths itself: the oracle for every scheme.
    */
  private def hadoopListFiles(ps: Seq[String]): Seq[ReadstatIO.FileStamp] = ps.flatMap { p =>
    val hp = new HPath(p)
    val fs = hadoopFs(p)
    val st = try Some(fs.getFileStatus(hp)) catch { case _: java.io.FileNotFoundException => None }
    st match {
      case Some(dir) if dir.isDirectory =>
        val files = fs.listStatus(hp).toSeq.filter(_.isFile)
        val keep = Compaction.filterNames(files.map(_.getPath.getName))
        files
          .filter(f => keep(f.getPath.getName) && ReadstatOptions.formatOf(f.getPath.getName).isDefined)
          .map(f => ReadstatIO.FileStamp(f.getPath.toString, f.getLen, f.getModificationTime))
          .sortBy(_.path)
      case Some(file) => Seq(ReadstatIO.FileStamp(p, file.getLen, file.getModificationTime))
      case None => Seq(ReadstatIO.FileStamp(p, -1L, -1L))
    }
  }

  /** A value, or the exception's class and message. */
  private def outcome[T](f: => T): Either[(String, String), T] = Try(f) match {
    case Success(v) => Right(v)
    case Failure(e) => Left(e.getClass.getName -> e.getMessage)
  }

  private val Len = 200000 // past three 64 KB stream buffers

  /** A file of `Len` seeded bytes with no `.crc` side file. */
  private lazy val plain: Path = {
    val p = Files.createTempDirectory("graft_readstatio").resolve("plain.bin")
    val r = new scala.util.Random(7)
    Files.write(p, Array.fill[Byte](Len)(r.nextInt().toByte))
    p
  }

  private def bytesRead: Long = {
    val all = FileSystem.getAllStatistics
    (0 until all.size).map(all.get).filter(_.getScheme == "file").map(_.getThreadStatistics.getBytesRead).sum
  }

  test("a local file without a .crc opens through the JDK stream; one with a .crc through Hadoop's checksummed stream") {
    val in = ReadstatIO.open(plain.toString)
    try assert(in.getWrappedStream.isInstanceOf[BufferedFSInputStream])
    finally in.close()
    val withCrc = Files.createTempDirectory("graft_readstatio_crc").resolve("c.bin").toString
    val out = hadoopFs(withCrc).create(new HPath(withCrc))
    try out.write(Array.tabulate[Byte](5000)(_.toByte)) finally out.close()
    assert(Files.exists(Paths.get(withCrc).resolveSibling(".c.bin.crc")))
    val checked = ReadstatIO.open(withCrc)
    try assert(!checked.getWrappedStream.isInstanceOf[BufferedFSInputStream])
    finally checked.close()
    // its checksum is verified: a flipped byte fails the read
    val bytes = Files.readAllBytes(Paths.get(withCrc))
    bytes(4000) = (bytes(4000) ^ 1).toByte
    Files.write(Paths.get(withCrc), bytes)
    val corrupt = ReadstatIO.open(withCrc)
    try intercept[ChecksumException](corrupt.readFully(new Array[Byte](5000)))
    finally corrupt.close()
  }

  test("the local stream reads, seeks and ends like Hadoop's") {
    val p = plain.toString
    val (local, hadoop) = (ReadstatIO.open(p), hadoopOpen(p))
    def same[T](what: String)(op: FSDataInputStream => T): Unit =
      assert(outcome(op(local)) === outcome(op(hadoop)), what)
    def bulk(s: FSDataInputStream, off: Int, len: Int): (Int, Seq[Byte]) = {
      val b = new Array[Byte](off + len)
      val n = s.read(b, off, len)
      (n, b.toSeq.slice(off, off + math.max(n, 0)))
    }
    def pread(s: FSDataInputStream, at: Long, len: Int): (Int, Seq[Byte]) = {
      val b = new Array[Byte](len)
      val n = s.read(at, b, 0, len)
      (n, b.toSeq.take(math.max(n, 0)))
    }
    def fully(s: FSDataInputStream, at: Long, len: Int): Seq[Byte] = {
      val b = new Array[Byte](len)
      s.readFully(at, b, 0, len)
      b.toSeq
    }
    try {
      same("read()")(s => Seq.fill(3)(s.read()))
      same("bulk read within the buffer")(bulk(_, 0, 10))
      same("bulk read past the buffer")(bulk(_, 5, 100000))
      same("getPos")(_.getPos)
      same("available")(_.available())
      same("readFully")(s => { val b = new Array[Byte](70000); s.readFully(b); b.toSeq })
      same("seek back into the buffer")(s => { s.seek(s.getPos - 100); (s.getPos, s.read()) })
      same("seek to 0")(s => { s.seek(0); (s.getPos, s.read(), s.available()) })
      same("seek near the end")(s => { s.seek(Len - 5); (bulk(s, 0, 100), s.read(), s.getPos) })
      same("seek to the length")(s => { s.seek(Len); (s.getPos, s.read(), s.available()) })
      same("seek past EOF")(_.seek(Len + 1L))
      same("getPos after a failed seek")(_.getPos)
      same("negative seek")(_.seek(-1L))
      same("positioned read")(s => { s.seek(10); (pread(s, 100, 50), s.getPos, s.read()) })
      same("positioned read across the end")(pread(_, Len - 10L, 50))
      same("positioned read at the end")(pread(_, Len, 50))
      same("positioned read past EOF")(pread(_, Len + 10L, 50))
      same("positioned read at a negative offset")(pread(_, -1L, 50))
      same("positioned readFully")(fully(_, 1000, 4096))
      same("positioned readFully past EOF")(fully(_, Len - 10L, 20))
      same("skip")(s => { s.seek(0); (s.skip(100), s.getPos, s.read()) })
      same("skip past EOF")(s => (s.skip(Len * 2L), s.getPos, s.read(), s.available()))
      same("zero-length reads")(s => { s.seek(5); (bulk(s, 0, 0), pread(s, 5, 0), s.getPos) })
    } finally { local.close(); hadoop.close() }
  }

  test("a missing file and a directory fail to open as in Hadoop") {
    val dir = Files.createTempDirectory("graft_readstatio_missing")
    val missing = dir.resolve("missing.dta")
    Seq(missing.toString, missing.toUri.toString, s"file:$missing", dir.toString).foreach { p =>
      val local = outcome(ReadstatIO.open(p))
      assert(local.isLeft, s"$p opened")
      assert(local === outcome(hadoopOpen(p)), p)
    }
    assert(outcome(ReadstatIO.open(missing.toString)) ===
      Left(classOf[java.io.FileNotFoundException].getName -> s"File $missing does not exist"))
    Seq(missing.toString, s"file:$missing").foreach { p =>
      val local = outcome(ReadstatIO.stamp(p))
      assert(local.isLeft && local.left.toOption === outcome(hadoopFs(p).getFileStatus(new HPath(p))).left.toOption, p)
      assert(!ReadstatIO.exists(p))
    }
  }

  test("bytes the local stream reads count in Hadoop's file statistics") {
    val b0 = bytesRead
    val in = ReadstatIO.open(plain.toString)
    try {
      in.readFully(new Array[Byte](1000))
      assert(in.read() >= 0)
      in.readFully(5000, new Array[Byte](300))
    } finally in.close()
    // the buffered stream fills its 64 KB buffer on the first read
    val sequential = math.min(Len, ReadstatIO.sessionConf.getInt("io.file.buffer.size", 4096)).toLong
    assert(bytesRead - b0 === sequential + 300L)
    val b1 = bytesRead
    val all = ReadstatIO.open(plain.toString)
    try all.readFully(new Array[Byte](Len)) finally all.close()
    assert(bytesRead - b1 === Len.toLong)
  }

  test("listFiles, entries and stamps equal Hadoop's on a sink directory with .crc files, a file and a missing path") {
    val root = Files.createTempDirectory("graft_readstatio_list")
    val d = root.resolve("sink").toString
    spark.range(80).selectExpr("cast(id as double) as x").repartition(4)
      .write.format("readstat").option("format", "dta").mode("overwrite").save(d)
    val sink = Paths.get(d)
    val containers = Files.list(sink).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".dta")).sortBy(_.toString)
    assert(containers.length === 4)
    // a container written through Hadoop's local file system carries a .crc
    val viaHadoop = hadoopFs(d).create(new HPath(s"$d/hadoop.dta"))
    try viaHadoop.write(Files.readAllBytes(containers(0))) finally viaHadoop.close()
    assert(Files.exists(sink.resolve(".hadoop.dta.crc")))
    // a compaction marker retires epoch 1's part; the other names are noise
    // a listing must filter or keep as Hadoop's does
    Files.copy(containers(0), sink.resolve("part-e000001-0.dta"))
    Files.copy(containers(1), sink.resolve("compact-e000000-e000001-00000.dta"))
    Files.write(sink.resolve("compact-e000000-e000001.done"), Array[Byte]())
    Files.copy(containers(2), sink.resolve("a b:c%20#.dta"))
    Files.copy(containers(3), sink.resolve(".hidden.sav"))
    Files.write(sink.resolve("_SUCCESS"), Array[Byte]())
    Files.createDirectories(sink.resolve("sub.dta"))
    Files.createSymbolicLink(sink.resolve("link.sas7bdat"), containers(0))
    Files.createSymbolicLink(sink.resolve("dangling.dta"), sink.resolve("gone.dta"))

    val relative = Paths.get("").toAbsolutePath.relativize(sink).toString
    val file = containers(0).toString
    val missing = root.resolve("missing").toString
    val listed = ReadstatIO.listFiles(Seq(d))
    assert(listed.exists(_.path.endsWith("/compact-e000000-e000001-00000.dta")))
    assert(!listed.exists(_.path.endsWith("/part-e000001-0.dta")))
    Seq(Seq(d), Seq(s"$d/"), Seq(s"file:$d"), Seq(sink.toUri.toString), Seq(relative),
        Seq(file), Seq(s"file:$file"), Seq(missing), Seq(d, file, missing)).foreach { ps =>
      assert(ReadstatIO.listFiles(ps) === hadoopListFiles(ps), ps)
    }
    // the streaming source polls entries: every file, qualified, as Hadoop stamps them
    Seq(d, s"file:$d", relative).foreach { p =>
      val fs = hadoopFs(p)
      val hadoop = fs.listStatus(new HPath(p)).toSeq.filter(_.isFile)
        .map(st => ReadstatIO.FileStamp(st.getPath.toString, st.getLen, st.getModificationTime))
      assert(ReadstatIO.entries(p).map(e => (e.isDir, e.files.sortBy(_.path))) ===
        Some((true, hadoop.sortBy(_.path))), p)
    }
    Seq(file, s"file:$file").foreach { p =>
      val st = hadoopFs(p).getFileStatus(new HPath(p))
      assert(ReadstatIO.entries(p) === Some(ReadstatIO.Entries(isDir = false,
        Seq(ReadstatIO.FileStamp(st.getPath.toString, st.getLen, st.getModificationTime)))), p)
      assert(ReadstatIO.stamp(p) === ReadstatIO.FileStamp(p, st.getLen, st.getModificationTime))
      assert(ReadstatIO.exists(p))
    }
    assert(ReadstatIO.entries(missing) === None)
  }
}
