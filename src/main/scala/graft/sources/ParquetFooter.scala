package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.{KeyValue, Util}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet footers on the driver: schema resolution for layouts the
  * program writes itself, and post-write footer surgery that adds
  * table-level key-value metadata to finished parquet files.
  *
  * The reference embeds `file_metadata`/`type` in the Arrow schema's
  * key-value metadata, which pyarrow persists into the parquet footer
  * (util.py:56-71) — a consumer reading by footer key must find the
  * same entries in our output. Spark exposes no API for custom footer
  * key-value entries, so the sink rewrites the footer after the fact:
  * a parquet file ends with `[footer thrift][4-byte LE length][PAR1]`
  * and the footer only references row-group offsets EARLIER in the
  * file, so replacing the tail with a re-serialized footer (same row
  * groups, extended key_value_metadata) is a safe, data-free edit.
  */
object ParquetFooter {

  private val Magic = "PAR1".getBytes(StandardCharsets.US_ASCII)

  /** Add (or replace) key-value entries in one parquet file's footer. */
  def addKeyValue(file: String, entries: Seq[(String, String)]): Unit = {
    val raf = new RandomAccessFile(file, "rw")
    try {
      val len = raf.length()
      require(len > 12, s"$file: too short to be parquet")
      val tail = new Array[Byte](8)
      raf.seek(len - 8); raf.readFully(tail)
      require(tail.slice(4, 8).sameElements(Magic), s"$file: no PAR1 magic")
      val footerLen = ByteBuffer.wrap(tail, 0, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      val footerStart = len - 8 - footerLen
      require(footerStart >= 4, s"$file: bad footer length $footerLen")
      val footer = new Array[Byte](footerLen)
      raf.seek(footerStart); raf.readFully(footer)
      val fmd = Util.readFileMetaData(new ByteArrayInputStream(footer))
      entries.foreach { case (k, v) =>
        if (fmd.isSetKey_value_metadata)
          fmd.getKey_value_metadata.removeIf(_.getKey == k)
        val kv = new KeyValue(k)
        kv.setValue(v)
        fmd.addToKey_value_metadata(kv)
      }
      val out = new ByteArrayOutputStream()
      Util.writeFileMetaData(fmd, out)
      val newFooter = out.toByteArray
      raf.seek(footerStart)
      raf.write(newFooter)
      val lenBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(newFooter.length).array()
      raf.write(lenBuf)
      raf.write(Magic)
      raf.setLength(footerStart + newFooter.length + 8)
    } finally raf.close()
  }

  /** Read a parquet file's footer key-value metadata. */
  def readKeyValue(file: String): Map[String, String] = {
    val raf = new RandomAccessFile(file, "r")
    try {
      val len = raf.length()
      val tail = new Array[Byte](8)
      raf.seek(len - 8); raf.readFully(tail)
      require(tail.slice(4, 8).sameElements(Magic), s"$file: no PAR1 magic")
      val footerLen = ByteBuffer.wrap(tail, 0, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      val footer = new Array[Byte](footerLen)
      raf.seek(len - 8 - footerLen); raf.readFully(footer)
      val fmd = Util.readFileMetaData(new ByteArrayInputStream(footer))
      if (!fmd.isSetKey_value_metadata) Map.empty
      else {
        import scala.jdk.CollectionConverters._
        fmd.getKey_value_metadata.asScala
          .map(kv => kv.getKey -> kv.getValue).toMap
      }
    } finally raf.close()
  }

  /** A name Spark's file listing skips: a leading `_` (unless it is a
    * `k=v` partition dir) or `.` — `_SUCCESS`, `.crc` shadows, and
    * the store's own `_manifest` / `_vstats` dirs. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** The first data file at or under `p` (depth-first in name order),
    * None when `p` is missing or holds none. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[Path] =
    try {
      val st = fs.getFileStatus(p)
      if (st.isFile) Some(p)
      else fs.listStatus(p).filterNot(c => hidden(c.getPath.getName))
        .sortBy(_.getPath.getName).iterator
        .flatMap(c => firstDataFile(fs, c.getPath)).nextOption()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The Spark schema of one parquet file, from its footer: Spark's own
    * conversion (the schema Spark wrote into the footer when present,
    * else the parquet types under the session's conf — `nanosAsLong`
    * included), so it is the schema `spark.read.parquet(file)` infers,
    * without the job that inference starts. */
  private def sparkSchema(spark: SparkSession, file: Path): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `spark.read.parquet(paths: _*)` for parquet the program writes
    * itself, with the schema resolved on the driver instead of by
    * Spark's inference job (`mergeSchemasInParallel` starts one per
    * read, even for a single footer). The schema is `fixed` when the
    * layout is a program constant (a store's manifest), else the
    * footer of the first data file under `paths` — exact for
    * layouts whose every file comes from one frame (a version dir, a
    * landed batch), which is all Spark's one-footer inference read
    * anyway. `basePath` keeps partition columns when `paths` are
    * partition dirs. A dir whose own name Spark treats as hidden
    * (`_manifest`, `_vstats`) goes to Spark as its listed data files,
    * so Spark does not log "All paths were ignored" for it — up to
    * the parallel-discovery threshold, above which Spark would list
    * the files in a job, where one dir lists on the driver. When no
    * path holds a data file (a missing dir, an empty one) the read is
    * plain `spark.read.parquet`, so the error stays Spark's own. */
  def read(spark: SparkSession, paths: Seq[String],
           fixed: Option[StructType] = None,
           basePath: Option[String] = None): DataFrame = {
    val roots = paths.map(new Path(_))
    val fs = roots.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val limit = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
    val handed = roots.flatMap { p =>
      if (!hidden(p.getName)) Seq(p)
      else {
        val files = try fs.listStatus(p).toSeq
          .filter(s => s.isFile && !hidden(s.getPath.getName))
          .map(_.getPath).sortBy(_.getName)
        catch { case _: java.io.FileNotFoundException => Nil }
        if (files.isEmpty || files.size > limit) Seq(p) else files
      }
    }
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    handed.iterator.flatMap(firstDataFile(fs, _)).nextOption() match {
      case None => reader.parquet(paths: _*)
      case Some(f) => reader.schema(fixed.getOrElse(sparkSchema(spark, f)))
        .parquet(handed.map(_.toString): _*)
    }
  }
}
