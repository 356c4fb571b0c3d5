package graft.sources

import java.io.{File, FileInputStream, RandomAccessFile}
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.readstat.spss.Sav

/** The single-container commit renders spill parts on several driver
  * threads and stitches them in part order: the output must not depend on
  * the partitioning (except zsav's deflate chunking) or on thread timing.
  */
class ParallelCommitSpec extends SparkSpec {

  /** (label, file name, writer options). */
  private val targets = Seq(
    ("dta", "t.dta", Map.empty[String, String]),
    ("sav", "t.sav", Map.empty[String, String]),
    ("savbc", "t.sav", Map("compression" -> "bytecode")),
    ("zsav", "t.zsav", Map.empty[String, String]),
    ("sas", "t.sas7bdat", Map.empty[String, String]),
    ("sas_rle", "t.sas7bdat", Map("compression" -> "rle")),
    ("sas_rdc", "t.sas7bdat", Map("compression" -> "rdc")))

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("x", DoubleType),
    StructField("d", DateType),
    StructField("ts", TimestampNTZType),
    StructField("b", BooleanType),
    StructField("s", StringType),
    StructField("long", StringType)))

  /** 1,500 rows in 8 uneven partitions (one empty). String widths differ
    * per partition; `long` reaches 2,100 bytes in one partition (a dta
    * strL, a 10-segment very long sav string), and the sav case size (330
    * codes) is not a multiple of 8, so parts start mid-group.
    */
  private def frame(): DataFrame = {
    val rows = (0 until 1500).map { i =>
      val part = i * 8 / 1500
      Row(i,
        if (i % 9 == 4) null else java.lang.Double.valueOf(if (i % 3 == 0) i % 50 else i * 0.37 - 11),
        if (i % 10 == 7) null else LocalDate.of(2020, 1, 1).plusDays(i),
        if (i % 12 == 2) null else LocalDateTime.of(2001, 2, 3, 4, 5, 6).plusSeconds(i * 4801L),
        if (i % 8 == 1) null else java.lang.Boolean.valueOf(i % 2 == 0),
        if (i % 7 == 3) null else s"p$part-" + "s" * ((i * 13) % (4 + part * 5)),
        if (i % 11 == 6) null else if (i == 911) "L" * 2100 else s"v$i-" + "w" * (part * 37 % 300))
    }
    val rdd = spark.sparkContext.parallelize(rows, 8)
      .mapPartitionsWithIndex((p, it) => if (p == 5) Iterator.empty else it)
    spark.createDataFrame(rdd, schema)
  }

  private def tmpDir(): Path = Files.createTempDirectory("graft_pc")

  private def write(df: DataFrame, path: Path, opts: Map[String, String]): Array[Byte] = {
    df.write.format("readstat").mode("overwrite").options(opts).save(path.toString)
    assertNoStaging(path)
    Files.readAllBytes(path)
  }

  private def assertNoStaging(path: Path): Unit = {
    val left = path.getParent.toFile.listFiles().map(_.getName).filter(_.endsWith(".spill-parts"))
    assert(left.isEmpty, s"staging left behind: ${left.mkString(", ")}")
    val tmp = new File(System.getProperty("java.io.tmpdir")).listFiles()
      .map(_.getName).filter(_.startsWith("graft-zsav-"))
    assert(tmp.isEmpty, s"zsav spool left behind: ${tmp.mkString(", ")}")
  }

  /** Values in one vocabulary across formats: numbers and booleans as
    * doubles, dates and datetimes as ISO text, strings right-trimmed.
    */
  private def canon(v: Any): Any = v match {
    case null => null
    case b: java.lang.Boolean => if (b) 1.0 else 0.0
    case n: java.lang.Number => n.doubleValue()
    case d: LocalDate => d.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case t: LocalDateTime => t.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case s: String => s.replaceAll(" +$", "")
    case x => x.toString
  }

  private def canonRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(r => r.toSeq.map(canon)).sortBy(_.head.asInstanceOf[Double]).toSeq

  test("8-partition single-container writes read back equal to the frame in every format") {
    val df = frame().cache()
    val want = canonRows(df)
    val dir = tmpDir()
    for ((label, file, opts) <- targets) {
      val p = dir.resolve(s"$label-$file")
      write(df, p, opts)
      val back = spark.read.format("readstat").option("valueLabelsAsStrings", "false")
        .load(p.toString)
      assert(back.columns.toSeq === schema.fieldNames.toSeq, label)
      val got = canonRows(back.select(schema.fieldNames.map(col).toIndexedSeq: _*))
      assert(got.length === want.length, label)
      got.zip(want).foreach { case (g, w) =>
        // a date may read back as a datetime at midnight
        val gd = g.updated(2, Option(g(2)).map(_.toString.stripSuffix("T00:00")).orNull)
        assert(gd === w, s"$label row ${w.head}")
      }
    }
    df.unpersist()
  }

  test("an 8-partition write is byte-identical to a one-partition write (all but zsav)") {
    val df = frame().cache()
    val dir = tmpDir()
    for ((label, file, opts) <- targets if label != "zsav") {
      val many = write(df, dir.resolve(s"$label-8-$file"), opts)
      val one = write(df.coalesce(1), dir.resolve(s"$label-1-$file"), opts)
      assert(many.length === one.length, label)
      assert(java.util.Arrays.equals(many, one), s"$label: 8 parts differ from 1")
    }
    df.unpersist()
  }

  test("bytecode parts shorter than one group stitch like a sequential encode") {
    // one numeric + one 8-byte string: 2 codes a row, so parts of 0-3 rows
    // start and end inside one shared group
    val sizes = Seq(0, 1, 2, 3, 5, 8, 13, 21)
    val rows = sizes.zipWithIndex.flatMap { case (n, p) =>
      (0 until n).map(k => (p, Row(p * 100 + k,
        if (k % 3 == 1) null else java.lang.Double.valueOf(k * 1.5), s"r$p$k")))
    }
    val sch = StructType(Seq(StructField("id", IntegerType), StructField("x", DoubleType),
      StructField("s", StringType)))
    val rdd = spark.sparkContext.parallelize(rows, sizes.size)
      .partitionBy(new org.apache.spark.HashPartitioner(sizes.size) {
        override def getPartition(key: Any): Int = key.asInstanceOf[Int]
      }).values
    val df = spark.createDataFrame(rdd, sch).cache()
    assert(df.rdd.glom().map(_.length).collect().toSeq === sizes)
    val dir = tmpDir()
    for (opts <- Seq(Map("compression" -> "bytecode"), Map.empty[String, String])) {
      val ext = if (opts.isEmpty) "zsav" else "sav"
      val many = write(df, dir.resolve(s"n8.$ext"), opts)
      val one = write(df.coalesce(1), dir.resolve(s"n1.$ext"), opts)
      assert(java.util.Arrays.equals(many, one), s"$ext: 8 parts differ from 1")
      assert(spark.read.format("readstat").load(dir.resolve(s"n8.$ext").toString).count() === 53)
    }
    df.unpersist()
  }

  test("two writes of one frame give identical bytes in every format") {
    val df = frame().cache()
    val dir = tmpDir()
    for ((label, file, opts) <- targets) {
      val a = write(df, dir.resolve(s"$label-a-$file"), opts)
      val b = write(df, dir.resolve(s"$label-b-$file"), opts)
      assert(java.util.Arrays.equals(a, b), s"$label: repeated write differs")
    }
    df.unpersist()
  }

  /** A zsav file's (zheader offset, block size, per block (uncompressed
    * offset, compressed offset, uncompressed size, compressed size)),
    * checking the zheader and ztrailer framing on the way.
    */
  private def zsavIndex(zsav: Path): (Long, Int, Seq[(Long, Long, Int, Int)]) = {
    val zheaderOfs = Sav.parseMetadata(() => new FileInputStream(zsav.toFile)).dataOffset
    val raf = new RandomAccessFile(zsav.toFile, "r")
    try {
      def u64(at: Long): Long = { raf.seek(at); java.lang.Long.reverseBytes(raf.readLong()) }
      def u32(at: Long): Int = { raf.seek(at); Integer.reverseBytes(raf.readInt()) }
      assert(u64(zheaderOfs) === zheaderOfs)
      val ztrailerOfs = u64(zheaderOfs + 8)
      val ztrailerLen = u64(zheaderOfs + 16)
      assert(ztrailerOfs + ztrailerLen === raf.length())
      val nBlocks = u32(ztrailerOfs + 20)
      assert(ztrailerLen === 24L + 24L * nBlocks)
      val blocks = (0 until nBlocks).map { b =>
        val e = ztrailerOfs + 24 + 24L * b
        (u64(e), u64(e + 8), u32(e + 16), u32(e + 20))
      }
      // blocks are contiguous, from the zheader's end to the ztrailer
      assert(blocks.headOption.forall(b => b._1 == zheaderOfs && b._2 == zheaderOfs + 24))
      blocks.zip(blocks.drop(1)).foreach { case (a, b) =>
        assert(b._1 === a._1 + a._3 && b._2 === a._2 + a._4)
      }
      assert(blocks.lastOption.forall(b => b._2 + b._4 == ztrailerOfs))
      (zheaderOfs, u32(ztrailerOfs + 16), blocks)
    } finally raf.close()
  }

  private def slice(f: Path, ofs: Long, len: Int): Array[Byte] = {
    val raf = new RandomAccessFile(f.toFile, "r")
    try { val b = new Array[Byte](len); raf.seek(ofs); raf.readFully(b); b } finally raf.close()
  }

  /** One block through a fresh zlib-mode inflater: header parsed, Adler-32
    * verified, exactly `uLen` bytes, nothing left over.
    */
  private def inflateBlock(comp: Array[Byte], uLen: Int, what: String): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(comp)
      val plain = new Array[Byte](uLen + 1)
      val n = inf.inflate(plain)
      assert(inf.finished() && n === uLen, s"$what inflates to $n of $uLen")
      assert(inf.getRemaining === 0, s"$what has trailing bytes")
      java.util.Arrays.copyOf(plain, uLen)
    } finally inf.end()
  }

  test("zsav past two blocks: full blocks, each a standalone zlib stream of the bytecode") {
    // 8 doubles a row that mostly miss the bias range: ~9 bytecode bytes a
    // cell, ~10.8 MB of bytecode for 150k rows, i.e. three 0x3FF000 blocks
    val cols = (0 until 8).map(k =>
      (xxhash64(col("id"), lit(k)) % 1000000).cast("double").divide(7.0).as(s"c$k"))
    val df = spark.range(0, 150000, 1, 8).select(col("id").cast("int").as("id") +: cols: _*).cache()
    val dir = tmpDir()
    val zsav = dir.resolve("big.zsav")
    val sav = dir.resolve("big.sav")
    write(df, zsav, Map.empty)
    val bytecode = write(df, sav, Map("compression" -> "bytecode"))
    val savOfs = Sav.parseMetadata(() => new FileInputStream(sav.toFile)).dataOffset

    val (zheaderOfs, blockSize, blocks) = zsavIndex(zsav)
    assert(zheaderOfs === savOfs)
    assert(blockSize === 0x3FF000, "block_size")
    assert(blocks.size >= 3, s"${blocks.size} blocks")
    blocks.zipWithIndex.foreach { case ((uOfs, cOfs, uLen, cLen), b) =>
      if (b < blocks.size - 1) assert(uLen === 0x3FF000, s"block $b not full")
      val plain = inflateBlock(slice(zsav, cOfs, cLen), uLen, s"block $b")
      val off = (savOfs + (uOfs - zheaderOfs)).toInt
      assert(java.util.Arrays.equals(plain, 0, uLen, bytecode, off, off + uLen),
        s"block $b differs from the bytecode sav's data section")
    }
    assert(blocks.map(_._3.toLong).sum === bytecode.length - savOfs, "blocks cover the data section")
    assert(spark.read.format("readstat").load(zsav.toString).count() === 150000)
    df.unpersist()
  }

  test("a zsav block of one chunk is byte-identical to DeflaterOutputStream's") {
    val zsav = tmpDir().resolve("small.zsav")
    write(frame(), zsav, Map.empty)
    val (_, _, blocks) = zsavIndex(zsav)
    assert(blocks.size === 1)
    val (_, cOfs, uLen, cLen) = blocks.head
    assert(uLen <= (1 << 20), s"$uLen bytes is more than one chunk")
    val comp = slice(zsav, cOfs, cLen)
    val bos = new java.io.ByteArrayOutputStream()
    val d = new java.util.zip.DeflaterOutputStream(bos)
    d.write(inflateBlock(comp, uLen, "block")); d.close()
    assert(java.util.Arrays.equals(comp, bos.toByteArray))
  }
}
