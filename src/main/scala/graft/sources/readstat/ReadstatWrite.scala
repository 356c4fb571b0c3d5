package graft.sources.readstat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructType}

/** DSv2 write path (SURVEY.md §2.1 S8/S9):
  * `df.write.format("readstat").mode("overwrite").save("out.dta")`.
  *
  * Executor spill: every input partition encodes its rows ON THE EXECUTOR
  * into a staging part file of final-format cell bytes (sentinels, epoch
  * shifts — everything except string padding, which needs the global max
  * width), and reports its row count and string widths. The format's
  * `spillEncoders` write each cell through the [[Spill]] codec, whose
  * unsynchronized 64 KB buffer the commit reads back; a string cell is
  * copied once from the row and returns its byte length for the width.
  *
  * Driver commit (model: the reference's parallel chunk encode,
  * `src/stata/writer.rs:1287-1363`): the single container is assembled in
  * two stages. RENDER: each part is turned into a final-format segment at
  * the global widths — dta records and strL refs, sav records or bytecode
  * groups, sas7bdat rows or RLE/RDC-compressed row records — on
  * min(cores, parts) driver threads. STITCH: one thread streams the
  * segments in part order between the container's header and trailer,
  * merging the bytecode groups shared across part boundaries, packing sas
  * pages, and for zsav cutting 0x3FF000-byte zlib blocks whose 1 MB chunks
  * deflate in parallel. The output bytes do not depend on the partitioning
  * (zsav excepted: the chunking shifts its deflate output by ~0.01%) or on
  * thread timing. perfbench's `write.commit_s` times this commit (last
  * task end → `save()` returning) for its four single-container writes.
  *
  * Directory and streaming mode have one part per task, which renders
  * straight into its container on the executor. The container file is
  * written driver-side (single sequential file with patch-back);
  * cluster-scale output belongs in parquet — this sink exists for format
  * parity and interchange.
  */
class ReadstatWriteBuilder(path: String, schema: StructType, opts: ReadstatOptions)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      // directory-of-containers mode (r10 verdict #3): a target WITHOUT a
      // container extension is a directory — each partition assembles its
      // own complete part-NNNNN container ON THE EXECUTOR, no driver
      // concat; a target with an extension keeps the single-container
      // interchange path below
      if (ReadstatWriteSupport.containerExtension(path).isEmpty)
        new ReadstatDirBatchWrite(path, schema, opts, doTruncate)
      else new ReadstatBatchWrite(path, schema, opts)

    // streaming sink (r11): the durable tail of the intake pipeline —
    // append-only, epoch-scoped part containers in a directory, readable
    // back by the multi-file load while the stream still runs
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(ReadstatWriteSupport.containerExtension(path).isEmpty,
        s"readstat streaming sink: '$path' names a single container — a " +
          "stream appends epoch part files, so the target must be a " +
          "directory (no container extension) + option(\"format\", ...)")
      require(!doTruncate,
        "readstat streaming sink is append-only (complete/truncate output " +
          "modes would rewrite history; use outputMode(\"append\"))")
      new ReadstatStreamingWrite(path, schema, opts)
    }
  }
}

private[readstat] final case class ReadstatPartMsg(
    pid: Int,
    rows: Long,
    /** max UTF-8 byte width per schema field (−1 for non-strings). */
    widths: Array[Int],
    partPath: String) extends WriterCommitMessage

class ReadstatBatchWrite(path: String, schema: StructType, opts: ReadstatOptions)
    extends BatchWrite {

  private val format = ReadstatOptions.detectFormat(path, opts.format)
  private val stagingDir = path + ".spill-parts"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ReadstatPartWriterFactory(stagingDir, schema, format)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: ReadstatPartMsg => m }.sortBy(_.pid)
    if (parts.isEmpty) return
    try ReadstatWriteSupport.assembleContainer(
      schema, parts, path, format, opts, Runtime.getRuntime.availableProcessors)
    finally ReadstatWriteSupport.deleteDir(stagingDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ReadstatWriteSupport.deleteDir(stagingDir)
}

class ReadstatPartWriterFactory(stagingDir: String, schema: StructType, format: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ReadstatPartWriter(
      s"$stagingDir/part-$partitionId-$taskId", partitionId, schema, format)
}

/** Executor-side: streams rows through the format's final-byte cell
  * encoders into one staging part file; tracks string widths and row count
  * for the driver's framing pass. O(1) memory in the row count.
  */
class ReadstatPartWriter(partPath: String, pid: Int, schema: StructType, format: String)
    extends DataWriter[InternalRow] {

  private val encoders = format match {
    case "dta" => stata.DtaWriter.spillEncoders(schema)
    case "sas7bdat" => sas.SasFixtureWriter.spillEncoders(schema)
    case _ => spss.SavWriter.spillEncoders(schema)
  }
  private val widths = schema.fields.map(f => if (f.dataType == StringType) 0 else -1)

  private val out = new Spill.Out(ReadstatWriteSupport.create(partPath))
  private var nRows = 0L

  override def write(record: InternalRow): Unit = {
    var c = 0
    while (c < encoders.length) {
      val n = encoders(c)(record, out)
      if (n > widths(c)) widths(c) = n
      c += 1
    }
    nRows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    ReadstatPartMsg(pid, nRows, widths, partPath)
  }

  override def abort(): Unit = {
    out.close()
    ReadstatWriteSupport.delete(partPath)
  }
  override def close(): Unit = ()
}

/** Directory-of-containers write (r10 verdict #3):
  * `df.write.format("readstat").option("format","dta").save("dir/")`.
  * Each input partition spills executor-side exactly like the
  * single-container path, then assembles its OWN complete part-NNNNN
  * container at task commit — the driver concatenates nothing, so bulk
  * export wall time scales with partitions instead of the driver's single
  * sequential assembly. Per-part string widths are the partition's own max
  * (each container is self-consistent; Spark-level schemas still agree
  * across parts, so the existing multi-file directory load reads the set
  * back unchanged). Empty partitions write no container; an all-empty
  * write emits one zero-row part so the directory reads back as an empty
  * table rather than failing the load.
  */
class ReadstatDirBatchWrite(
    dir: String,
    schema: StructType,
    opts: ReadstatOptions,
    doTruncate: Boolean) extends BatchWrite {

  private val format = opts.format.getOrElse(throw new IllegalArgumentException(
    s"readstat sink: '$dir' has no container extension — directory mode " +
      "needs option(\"format\", \"dta\"|\"sav\"|\"zsav\"|\"sas7bdat\")"))
  private val ext = ReadstatWriteSupport.extensionFor(format)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // overwrite semantics: clear previous part containers before tasks
    // write (the parquet directory-overwrite shape)
    if (doTruncate) ReadstatWriteSupport.deleteDir(dir)
    new ReadstatDirWriterFactory(dir, ext, schema, format, opts)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val nonEmpty = messages.collect { case m: ReadstatPartMsg if m.rows > 0 => m }
    if (nonEmpty.isEmpty) {
      // all-empty write: one zero-row container keeps the directory readable
      ReadstatWriteSupport.assembleContainer(
        schema, Seq.empty, s"$dir/part-00000$ext", format, opts, threads = 1)
    }
    ReadstatWriteSupport.deleteDir(s"$dir/.spill-parts")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ReadstatWriteSupport.deleteDir(s"$dir/.spill-parts")
}

class ReadstatDirWriterFactory(
    dir: String, ext: String, schema: StructType, format: String, opts: ReadstatOptions)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ReadstatDirPartWriter(dir, ext, partitionId, taskId, schema, format, opts)
}

/** Executor-side: spill the partition (same final-byte cell encoding as the
  * single-container path), then assemble this partition's complete
  * container at task commit. The spill indirection exists because string
  * widths are only known after the last row.
  */
class ReadstatDirPartWriter(
    dir: String, ext: String, pid: Int, taskId: Long,
    schema: StructType, format: String, opts: ReadstatOptions,
    filePrefix: String = "part-")
    extends DataWriter[InternalRow] {

  private val spillPath = s"$dir/.spill-parts/$filePrefix$pid-$taskId"
  private val inner = new ReadstatPartWriter(spillPath, pid, schema,
    if (format == "zsav") "sav" else format)

  override def write(record: InternalRow): Unit = inner.write(record)

  override def commit(): WriterCommitMessage = {
    val m = inner.commit().asInstanceOf[ReadstatPartMsg]
    if (m.rows == 0L) { ReadstatWriteSupport.delete(spillPath); return m }
    val outPath = f"$dir/$filePrefix$pid%05d$ext"
    // one part: renders straight into its container, deflates inline (the
    // executor's other cores run the other parts)
    ReadstatWriteSupport.assembleContainer(schema, Seq(m), outPath, format, opts, threads = 1)
    ReadstatWriteSupport.delete(spillPath)
    m.copy(partPath = outPath)
  }

  override def abort(): Unit = {
    inner.abort()
    ReadstatWriteSupport.delete(spillPath)
  }
  override def close(): Unit = ()
}

/** Streaming sink (r11): each epoch's partitions assemble complete
  * `part-e<epoch>-<pid>` containers ON THE EXECUTOR — the directory-write
  * machinery with epoch-scoped names, which is also what makes failure
  * recovery idempotent: a replayed epoch regenerates the SAME file names
  * from the same data, so re-commits overwrite rather than duplicate
  * (the FileStreamSink manifest discipline achieved through deterministic
  * naming instead of a manifest — readstat readers list directories, so
  * the file set itself must be the truth). Empty epochs write nothing.
  * Composes upstream with the intake gates ([[graft.streaming.DocStreams]])
  * and downstream with the multi-file batch load (+ mergeSchema, +
  * PERMISSIVE) — a reader can follow the directory while the stream runs.
  */
class ReadstatStreamingWrite(dir: String, schema: StructType, opts: ReadstatOptions)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val format = opts.format.getOrElse(throw new IllegalArgumentException(
    s"readstat streaming sink: '$dir' has no container extension — " +
      "option(\"format\", \"dta\"|\"sav\"|\"zsav\"|\"sas7bdat\") is required"))
  private val ext = ReadstatWriteSupport.extensionFor(format)

  private def prefix(epochId: Long): String = f"part-e$epochId%06d-"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new ReadstatStreamWriterFactory(dir, ext, schema, format, opts)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    // parts were assembled at task commit (epoch-scoped names); only the
    // spill staging remains to clear. Epochs are serial per query, so the
    // shared staging dir is quiescent here.
    ReadstatWriteSupport.deleteDir(s"$dir/.spill-parts")

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // tear out anything this epoch already materialized: the retry will
    // regenerate the same names, but a PERMANENTLY failed query must not
    // leave a half-epoch for readers
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(ReadstatIO.sessionConf)
    if (fs.exists(hp) && fs.getFileStatus(hp).isDirectory)
      fs.listStatus(hp).filter(_.getPath.getName.startsWith(prefix(epochId)))
        .foreach(st => fs.delete(st.getPath, false))
    ReadstatWriteSupport.deleteDir(s"$dir/.spill-parts")
  }
}

class ReadstatStreamWriterFactory(
    dir: String, ext: String, schema: StructType, format: String, opts: ReadstatOptions)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ReadstatDirPartWriter(dir, ext, partitionId, taskId, schema, format, opts,
      filePrefix = f"part-e$epochId%06d-")
}

/** Driver-side assemblers + small FS/JSON helpers shared by the sink. */
object ReadstatWriteSupport {
  import org.apache.spark.sql.types._

  def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  /** Some(ext) when the path names a single container; None → directory. */
  def containerExtension(p: String): Option[String] = {
    val n = p.toLowerCase
    Seq(".dta", ".sav", ".zsav", ".sas7bdat").find(n.endsWith)
  }

  def extensionFor(format: String): String = format match {
    case "dta" => ".dta"
    case "sav" => ".sav"
    case "zsav" => ".zsav"
    case "sas7bdat" => ".sas7bdat"
    case f => throw new IllegalArgumentException(s"readstat sink: unsupported format $f")
  }

  /** One container from encoded spill parts — the format dispatch shared by
    * the single-container driver commit and the directory mode's per-task
    * executor assembly. Global string widths come from the given parts
    * (min 1); `path` keeps its extension semantics (`.zsav` implies zlib).
    * Parts render on up to `threads` threads (see [[renderParts]]).
    */
  private[readstat] def assembleContainer(
      schema: StructType,
      parts: Seq[ReadstatPartMsg],
      path: String,
      format: String,
      opts: ReadstatOptions,
      threads: Int): Long = {
    val local = stripScheme(path)
    val widths: Map[String, Int] = schema.fields.zipWithIndex.collect {
      case (f, i) if f.dataType == StringType =>
        f.name -> math.max(1, parts.map(_.widths(i)).foldLeft(0)(math.max))
    }.toMap
    val vlJson = parseLabelMap(opts.valueLabels)
    val varLabels = parseStringMap(opts.variableLabels)
    format match {
      case "dta" => assembleDta(
        schema, parts, widths, local, threads,
        vlJson.map { case (c, m) => c -> m.map { case (k, v) => k.toInt -> v } },
        varLabels)
      case "sav" | "zsav" =>
        val zsav = local.toLowerCase.endsWith(".zsav")
        assembleSav(
          schema, parts, widths, local, threads,
          compress = zsav || opts.compression.contains("bytecode"),
          valueLabels = vlJson.map { case (c, m) => c -> m.map { case (k, v) => k.toDouble -> v } },
          zsav = zsav,
          missingValues = parseListMap(opts.missingValues)
            .map { case (c, vs) => c -> vs.map(_.toDouble) },
          stringValueLabels = parseLabelMap(opts.stringValueLabels),
          stringMissingValues = parseListMap(opts.stringMissingValues))
      case "sas7bdat" =>
        val rdc = opts.compression.contains("rdc")
        if (rdc || opts.compression.contains("rle"))
          assembleSasCompressed(schema, parts, widths, local, threads, rdc)
        else assembleSas(schema, parts, widths, local, threads)
      case f => throw new IllegalArgumentException(s"readstat sink: unsupported format $f")
    }
  }

  def create(path: String): java.io.OutputStream = {
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(ReadstatIO.sessionConf).create(hp, true)
  }

  def delete(path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(ReadstatIO.sessionConf)
    if (fs.exists(hp)) fs.delete(hp, false)
  }

  def deleteDir(path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(ReadstatIO.sessionConf)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  private def partStream(m: ReadstatPartMsg): Spill.In = new Spill.In(ReadstatIO.open(m.partPath))

  /** A daemon pool for commit renders and zsav deflates. */
  private[readstat] def commitPool(threads: Int): java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, s"readstat-commit-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** Renders every spill part at the global widths and streams the results
    * into the container in part order.
    *
    * One part (directory and streaming mode, or a one-partition write)
    * renders straight into `direct`. Several render on min(threads, parts)
    * threads, each into a segment file next to its spill file, while the
    * calling thread stitches: once part p and every part before it are
    * rendered, `stitch(result, segment)` streams p's segment into the
    * container (for one part, the segment is empty) and the file is
    * deleted. `render(p, spill, out)` returns what its stitch needs besides
    * the segment bytes (strL blobs, bytecode fragments, a row count).
    */
  private def renderParts[R](parts: Seq[ReadstatPartMsg], threads: Int, direct: java.io.OutputStream)(
      render: (Int, Spill.In, java.io.OutputStream) => R)(
      stitch: (R, java.io.InputStream) => Unit): Unit = {
    def rendered(p: Int, out: java.io.OutputStream): R = {
      val in = partStream(parts(p))
      try render(p, in, out) finally in.close()
    }
    if (parts.length <= 1) {
      parts.indices.foreach(p => stitch(rendered(p, direct), java.io.InputStream.nullInputStream()))
      return
    }
    val segs = parts.map(m => new java.io.File(stripScheme(m.partPath) + ".seg"))
    val pool = commitPool(math.max(1, math.min(threads, parts.length)))
    try {
      val futures = parts.indices.map { p =>
        pool.submit(new java.util.concurrent.Callable[R] {
          def call(): R = {
            val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(segs(p)), 1 << 18)
            try rendered(p, out) finally out.close()
          }
        })
      }
      parts.indices.foreach { p =>
        val r = try futures(p).get() catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
        val in = new java.io.BufferedInputStream(new java.io.FileInputStream(segs(p)), 1 << 18)
        try stitch(r, in) finally { in.close(); segs(p).delete() }
      }
    } finally {
      // a failed part stops the others before the caller clears the staging
      pool.shutdownNow()
      pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
      segs.foreach(_.delete())
    }
  }

  /** The dta container from spill parts: numeric cells copy verbatim,
    * strings pad to the global width or become strL refs (obs = rows before
    * the part + row in the part + 1), blobs kept in part order.
    */
  private[readstat] def assembleDta(
      schema: StructType,
      parts: Seq[ReadstatPartMsg],
      widths: Map[String, Int],
      path: String,
      threads: Int,
      valueLabels: Map[String, Map[Int, String]],
      variableLabels: Map[String, String]): Long = {
    import stata.DtaWriter
    val specs = schema.fields.map(f =>
      DtaWriter.specFor(f, widths.getOrElse(f.name, 1)))
    val rowsBefore = parts.scanLeft(0L)(_ + _.rows)
    DtaWriter.writeFramed(schema, specs, path, valueLabels, variableLabels) { sink =>
      renderParts(parts, threads, sink.data) { (p, in, out) =>
        val strls: DtaWriter.StrLs = scala.collection.mutable.ArrayBuffer()
        DtaWriter.renderRows(in, parts(p).rows, rowsBefore(p), specs, sink.version, out, strls)
        strls
      } { (strls, seg) =>
        seg.transferTo(sink.data)
        sink.strls ++= strls
      }
      rowsBefore.last
    }
  }

  /** The sav container from spill parts: numeric cells pass through as f64
    * bits, strings lay into their segment regions at the global width. With
    * bytecode, part p starts at code position rowsBefore(p) × case size
    * mod 8 and the stitch merges the groups shared across part boundaries,
    * so the bytes equal a sequential encode for any partitioning.
    */
  private[readstat] def assembleSav(
      schema: StructType,
      parts: Seq[ReadstatPartMsg],
      widths: Map[String, Int],
      path: String,
      threads: Int,
      compress: Boolean,
      valueLabels: Map[String, Map[Double, String]],
      zsav: Boolean,
      missingValues: Map[String, Seq[Double]] = Map.empty,
      stringValueLabels: Map[String, Map[String, String]] = Map.empty,
      stringMissingValues: Map[String, Seq[String]] = Map.empty): Long = {
    import spss.SavWriter
    val specs = SavWriter.buildSpecs(schema, widths)
    val caseSize = specs.map(_.widthSegments.toLong).sum
    val rowsBefore = parts.scanLeft(0L)(_ + _.rows)
    SavWriter.writeFramed(schema, specs, path, compress, valueLabels,
      missingValues = missingValues, zsav = zsav,
      stringValueLabels = stringValueLabels,
      stringMissingValues = stringMissingValues, threads = threads) { data =>
      val stitched = new SavWriter.SavCellSink(data, compress)
      renderParts(parts, threads, data) { (p, in, out) =>
        val sink = new SavWriter.SavCellSink(out, compress, ((rowsBefore(p) * caseSize) % 8).toInt)
        sink.renderRows(in, parts(p).rows, specs)
        sink.fragments()
      } { case ((head, tail), seg) =>
        stitched.merge(head)
        seg.transferTo(data)
        stitched.merge(tail)
      }
      stitched.finish()
      rowsBefore.last
    }
  }

  /** Uncompressed sas7bdat from spill parts: segments hold fixed rows; the
    * page framer packs them into DATA pages as they stream in. The framer
    * needs the total row count up front — the part messages carry it.
    */
  private[readstat] def assembleSas(
      schema: StructType,
      parts: Seq[ReadstatPartMsg],
      widths: Map[String, Int],
      path: String,
      threads: Int): Long = {
    import sas.SasFixtureWriter
    val cols = SasFixtureWriter.colsFor(schema, widths)
    SasFixtureWriter.writeFramedStreaming(schema, widths, path, parts.map(_.rows).sum) { data =>
      renderParts(parts, threads, data) { (p, in, out) =>
        SasFixtureWriter.renderRows(in, parts(p).rows, cols)(out.write)
      } { (_, seg) => seg.transferTo(data) }
    }
  }

  /** RLE/RDC sas7bdat from spill parts: each row is rebuilt at the global
    * widths and compressed by its part's render; segments hold the
    * `[i32 len][record]` subheader records that the packer streams into
    * META pages — O(page) memory at any row count. The spill is varlen, so
    * compression happens at commit, where the global widths are known.
    */
  private[readstat] def assembleSasCompressed(
      schema: StructType,
      parts: Seq[ReadstatPartMsg],
      widths: Map[String, Int],
      path: String,
      threads: Int,
      rdc: Boolean): Long = {
    import sas.{RdcEncode, RleEncode, SasFixtureWriter}
    val cols = SasFixtureWriter.colsFor(schema, widths)
    val rowLength = cols.map(_.length).sum
    val nRows = parts.map(_.rows).sum
    def records(p: Int, in: Spill.In)(emit: (Array[Byte], Int) => Unit): Unit =
      SasFixtureWriter.renderRows(in, parts(p).rows, cols) { row =>
        val comp = if (rdc) RdcEncode.encode(row) else RleEncode.encode(row)
        if (comp.length < rowLength) emit(comp, comp.length)
        else emit(row, rowLength) // reader treats len==rowLength as raw
      }
    SasFixtureWriter.writeCompressedFramed(schema, widths, path, nRows, rdc) { emit =>
      // one part packs its records directly, so renderParts needs no
      // direct stream here
      if (parts.length == 1) {
        val in = partStream(parts.head)
        try records(0, in)(emit) finally in.close()
      } else renderParts(parts, threads, null) { (p, in, out) =>
        val d = new Spill.Out(out)
        records(p, in) { (b, n) => d.int(n); d.bytes(b, 0, n) }
        d.flush()
        parts(p).rows
      } { (rows, seg) =>
        SasFixtureWriter.packRecords(new Spill.In(seg), rows, emit)
      }
    }
    nRows
  }

  /** JSON `{"col":{"code":"label",...},...}` → nested map. */
  def parseLabelMap(js: Option[String]): Map[String, Map[String, String]] =
    js.map { s =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(s)
      val cols = Map.newBuilder[String, Map[String, String]]
      val it = node.fields()
      while (it.hasNext) {
        val e = it.next()
        val inner = Map.newBuilder[String, String]
        val it2 = e.getValue.fields()
        while (it2.hasNext) { val f = it2.next(); inner += f.getKey -> f.getValue.asText() }
        cols += e.getKey -> inner.result()
      }
      cols.result()
    }.getOrElse(Map.empty)

  /** JSON `{"col":["a","b"],...}` → map of lists (values as text). */
  def parseListMap(js: Option[String]): Map[String, Seq[String]] =
    js.map { s =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(s)
      val cols = Map.newBuilder[String, Seq[String]]
      val it = node.fields()
      while (it.hasNext) {
        val e = it.next()
        val arr = e.getValue
        require(arr.isArray, s"expected JSON array for ${e.getKey}")
        cols += e.getKey -> (0 until arr.size()).map(i => arr.get(i).asText())
      }
      cols.result()
    }.getOrElse(Map.empty)

  /** JSON `{"col":"label",...}` → map. */
  def parseStringMap(js: Option[String]): Map[String, String] =
    js.map { s =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(s)
      val it = node.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asText() }
      b.result()
    }.getOrElse(Map.empty)
}
