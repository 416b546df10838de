package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVInferSchema, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, MetadataBuilder, NullType, StructType}
import graft.functions.{JObj, JStr, JVal}

/** The engine's fundamental abstraction (SURVEY.md §1.1): a DataFrame
  * whose StructField metadata carries per-column units and whose
  * table-level `file_metadata`/`type` JSON rides alongside.
  *
  * Column metadata survives Spark's parquet round-trip (it is embedded
  * in the `org.apache.spark.sql.parquet.row.metadata` footer key);
  * table-level metadata has no first-class Spark slot, so the sink
  * writes it as a `_lab_metadata.json` sidecar in the output directory
  * (and `read` restores it).
  */
case class LabTable(df: DataFrame, tableMeta: JObj) {

  def typeTag: Option[String] = tableMeta.get("type").collect { case JStr(s) => s }
  def fileMetadata: Option[JVal] = tableMeta.get("file_metadata")

  def unitOf(column: String): Option[String] = {
    val m = df.schema(column).metadata
    if (m.contains("unit") && m.getString("unit") != null) Option(m.getString("unit"))
    else None
  }

  /** Parquet sink, snappy (SURVEY.md §2.11 K1). Table-level metadata
    * lands in BOTH interop slots: the parquet footer key-value
    * entries `file_metadata`/`type` (byte-matching the reference's
    * pyarrow footer layout, util.py:56-71 — a footer-key consumer
    * sees identical JSON) and a `_lab_metadata.json` sidecar (useful
    * for humans and directory listings). */
  def write(path: String): Unit = {
    val dir = LabTable.localDir(df.sparkSession, path)
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    val footerEntries =
      fileMetadata.map(m => "file_metadata" -> m.render).toSeq ++
        typeTag.map(t => "type" -> t).toSeq
    if (footerEntries.nonEmpty) {
      val parts = dir.listFiles()
      if (parts != null)
        parts.filter(f => f.isFile && f.getName.endsWith(".parquet"))
          .foreach { f =>
            ParquetFooter.addKeyValue(f.getPath, footerEntries)
            // the in-place edit invalidates Hadoop's local-FS .crc
            // sidecar; drop it so ChecksumFileSystem re-reads cleanly
            val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
            if (crc.exists()) crc.delete()
          }
      // The surgery grows each file; drop Spark's cached FileStatus
      // (a stale length makes the footer reader seek out of bounds).
      df.sparkSession.catalog.refreshByPath(path)
    }
    java.nio.file.Files.writeString(
      new java.io.File(dir, "_lab_metadata.json").toPath, tableMeta.render)
  }
}

object LabTable {

  /** The local directory behind `path`, a plain path or a `file:` URI:
    * the footer surgery and the sidecar edit local files, so a path on
    * another filesystem fails here, before anything is written. */
  private def localDir(spark: SparkSession, path: String): java.io.File = {
    val uri = new Path(path).toUri
    val scheme = Option(uri.getScheme).getOrElse(
      FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    require(scheme == "file", s"LabTable: $path is not on the local " +
      s"filesystem (scheme '$scheme'); its footer metadata and " +
      "_lab_metadata.json sidecar need a local path or a file: URI")
    new java.io.File(uri.getPath)
  }

  def read(spark: SparkSession, path: String): LabTable = {
    val dir = localDir(spark, path)
    val df = spark.read.parquet(path)
    // Footer keys first (present in our output AND the reference's
    // pyarrow-written files); sidecar as fallback.
    val fromFooter: Option[JObj] = {
      val parts = dir.listFiles()
      val part = Option(parts).toSeq.flatten
        .find(f => f.isFile && f.getName.endsWith(".parquet"))
      part.flatMap { f =>
        val kv = ParquetFooter.readKeyValue(f.getPath)
        if (!kv.contains("file_metadata") && !kv.contains("type")) None
        else Some(JObj(Vector.empty) ++?
          kv.get("file_metadata").map(s => "file_metadata" -> PyJsonParser.parse(s)) ++?
          kv.get("type").map(s => "type" -> (JStr(s): JVal)))
      }
    }
    val sidecar = new java.io.File(dir, "_lab_metadata.json").toPath
    val meta = fromFooter.getOrElse {
      if (java.nio.file.Files.exists(sidecar))
        PyJsonParser.parse(java.nio.file.Files.readString(sidecar)) match {
          case o: JObj => o
          case other => JVal.obj("file_metadata" -> other)
        }
      else JObj(Vector.empty)
    }
    LabTable(df, meta)
  }

  private implicit class JObjBuild(o: JObj) {
    def ++?(kv: Option[(String, JVal)]): JObj =
      kv.map(o + _).getOrElse(o)
  }

  /** Attach per-column unit metadata (reference: util.py:37-54; a
    * missing unit is JSON null there, mirrored as a null entry). */
  def withUnits(df: DataFrame, colUnits: Seq[(String, Option[String])]): DataFrame = {
    val m = colUnits.toMap
    df.select(df.columns.map { c =>
      val mb = new MetadataBuilder()
      m.getOrElse(c, None) match {
        case Some(u) => mb.putString("unit", u)
        case None => mb.putNull("unit")
      }
      col(c).as(c, mb.build())
    }.toSeq: _*)
  }

  /** Parse delimiter-separated body lines into a typed DataFrame on
    * the driver, without a Spark job: the lines of one instrument file
    * are already in hand. Types and values are what
    * `spark.read.option("inferSchema", "true").csv(lines)` gives, from
    * the same Spark code with the same options (`CSVInferSchema` over
    * univocity tokens for the types, `UnivocityParser` for the values,
    * PERMISSIVE: a short row pads with nulls, a long one is cut).
    * Integral columns are widened to long — the reference's Arrow
    * inference emits int64. */
  def csvBody(spark: SparkSession, lines: Seq[String], delim: Char,
              cols: Seq[String]): DataFrame = {
    val (options, body, schema) = inferCsv(spark, lines, delim)
    val rows = SQLConf.withExistingConf(spark.sessionState.conf) {
      val parser = new UnivocityParser(schema, options)
      val safe = new FailureSafeParser[String](parser.parse(_),
        options.parseMode, schema, options.columnNameOfCorruptRecord)
      body.flatMap(line => safe.parse(line).map(_.copy())) // parser reuses its row
    }
    GraftSqlBridge.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(schema), rows)).toDF(cols: _*)
  }

  /** The column types [[csvBody]] gives `lines`, in order, without
    * parsing the values. */
  private[sources] def csvTypes(spark: SparkSession, lines: Seq[String],
                                delim: Char): Seq[DataType] =
    inferCsv(spark, lines, delim)._3.map(_.dataType)

  /** The reader's options, the lines it parses and the schema it infers
    * (columns `_c0`…, as wide as the first line, integers widened). */
  private def inferCsv(spark: SparkSession, lines: Seq[String], delim: Char)
      : (CSVOptions, Seq[String], StructType) = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(Map(
      "delimiter" -> delim.toString,
      "inferSchema" -> "true",
      "ignoreLeadingWhiteSpace" -> "true",
      "ignoreTrailingWhiteSpace" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone)
    // the reader drops blank lines with SQL `trim` (spaces only) before
    // parsing; inference filters its tokens with Java's trim
    val body = lines.filter(_.exists(_ != ' '))
    val schema = SQLConf.withExistingConf(conf) {
      body.headOption.fold(new StructType()) { first =>
        val tokenizer = new CsvParser(options.asParserSettings)
        val width = tokenizer.parseLine(first).length
        val infer = new CSVInferSchema(options)
        val types = CSVExprUtils.filterCommentAndEmpty(body.iterator, options)
          .foldLeft(Array.fill[DataType](width)(NullType)) { (soFar, line) =>
            infer.inferRowType(soFar, tokenizer.parseLine(line))
          }
        StructType(infer.toStructFields(
          types.map { case IntegerType => LongType; case t => t },
          Array.tabulate(width)(i => s"_c$i")))
      }
    }
    (options, body, schema)
  }
}
