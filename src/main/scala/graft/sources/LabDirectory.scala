package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import graft.functions.{JObj, JStr}

/** Directory-scale ingest for the text-export instrument formats
  * (STA §2.1 S1, MCC §2.1 S2): the reference parses one file per call
  * (netzsch_sta_parser.py:30, faa_mcc_parser.py:12); a fleet of 10⁶
  * instrument files needs the same parse fanned out across executors.
  *
  * Shape: the driver lists paths and parses ONLY the head file to pin
  * the output schema (exactly the single-file loader's inference, so
  * the two paths agree, and like it without a Spark job); executors
  * then read + parse whole files and emit typed rows tagged with
  * `source_file`. Files are packed into tasks by the rule a Parquet or
  * CSV scan splits its files by ([[pack]]): a few KB-sized exports
  * share one task, a large fleet spreads over the cluster, and no
  * shuffle runs. Files whose header differs are reconciled BY COLUMN
  * NAME against the pinned schema (missing column → null, extra
  * column → dropped), so the two STA export variants land in one frame.
  *
  * I/O goes through the Hadoop FileSystem API under the session's
  * Hadoop conf (shipped to the tasks once per load), so `dir` may live
  * on any filesystem the session can list (local, HDFS, S3A), and bytes
  * are read inside tasks — the driver never holds file contents. Per-file
  * table metadata is a separate one-row-per-file frame
  * ([[metadataTable]]) rather than a per-row duplicate.
  */
object LabDirectory {

  /** Parser-independent parsed form of one text-export file. */
  case class ParsedText(cols: Seq[String], units: Seq[Option[String]],
                        delim: Char, body: Seq[String], tableMeta: JObj)

  /** Parsed form of one file that yields TYPED rows directly (HFM
    * setpoint tables, FTIR spectra, Cone scan sheets). `unitKey` is
    * the column-metadata key the single-file loader uses. */
  case class ParsedRows(schema: StructType, rows: Seq[Row],
                        units: Map[String, String], tableMeta: JObj,
                        unitKey: String = "unit")

  /** (path, bytes) → parsed; must be pure + serializable. */
  type Parser = (String, Array[Byte]) => ParsedText
  type RowParser = (String, Array[Byte]) => ParsedRows

  def loadSta(spark: SparkSession, dir: String, glob: String = "*.csv"): DataFrame =
    load(spark, dir, glob, StaSource.parseBytes)

  def loadMcc(spark: SparkSession, dir: String, glob: String = "*.txt"): DataFrame =
    load(spark, dir, glob, MccSource.parseBytes)

  def loadHfm(spark: SparkSession, dir: String, glob: String = "*.tst"): DataFrame =
    loadTyped(spark, dir, glob, HfmSource.parseRows,
      fixedSchema = Some(HfmSource.FleetSchema))

  /** FTIR column sets vary per instrument configuration; `union=true`
    * runs a distributed schema survey first so every file's spectra
    * land (absent columns null) instead of pinning the head file's. */
  def loadFtir(spark: SparkSession, dir: String, glob: String = "*.[0-9]*",
               union: Boolean = false): DataFrame =
    loadTyped(spark, dir, glob, FtirSource.parseRows,
      fixedSchema = if (union) Some(surveySchema(spark, dir, glob, FtirSource.parseRows))
      else None)

  /** Distributed schema survey: every file parsed in a task,
    * schemas unioned in first-seen column order. Shared column names
    * must agree on type (it is an error otherwise — that is two
    * instrument families in one directory). */
  def surveySchema(spark: SparkSession, dir: String, glob: String,
                   parser: RowParser): StructType = {
    val ddls = fleet(spark, dir, glob).bytes
      .map { case (p, bytes) => parser(p, bytes).schema.json }
      .collect()
    val fields = scala.collection.mutable.LinkedHashMap[String, StructField]()
    ddls.map(j => DataType.fromJson(j).asInstanceOf[StructType]).foreach(_.fields.foreach { f =>
      fields.get(f.name) match {
        case Some(prev) if prev.dataType != f.dataType =>
          throw new IllegalArgumentException(
            s"surveySchema: column '${f.name}' has conflicting types " +
              s"${prev.dataType.catalogString} vs ${f.dataType.catalogString}")
        case Some(_) => ()
        case None => fields(f.name) = f
      }
    })
    StructType(fields.values.toSeq)
  }

  def loadCone(spark: SparkSession, dir: String, glob: String = "*.XLSM"): DataFrame =
    loadTyped(spark, dir, glob, ConeSource.parseRows(_, _))

  def staMetadata(spark: SparkSession, dir: String, glob: String = "*.csv"): DataFrame =
    metadataTable(spark, dir, glob,
      (p, b) => StaSource.parseBytes(p, b).tableMeta)

  def mccMetadata(spark: SparkSession, dir: String, glob: String = "*.txt"): DataFrame =
    metadataTable(spark, dir, glob,
      (p, b) => MccSource.parseBytes(p, b).tableMeta)

  def hfmMetadata(spark: SparkSession, dir: String, glob: String = "*.tst"): DataFrame =
    metadataTable(spark, dir, glob,
      (p, b) => HfmSource.parseRows(p, b).tableMeta)

  def ftirMetadata(spark: SparkSession, dir: String, glob: String = "*.[0-9]*"): DataFrame =
    metadataTable(spark, dir, glob,
      (p, b) => FtirSource.parseRows(p, b).tableMeta)

  def coneMetadata(spark: SparkSession, dir: String, glob: String = "*.XLSM"): DataFrame =
    metadataTable(spark, dir, glob,
      (p, b) => ConeSource.parseRows(p, b).tableMeta)

  /** Distributed body ingest: schema = `source_file` + the head
    * file's single-file-loader schema; files packed into tasks by
    * [[pack]]. */
  def load(spark: SparkSession, dir: String, glob: String,
           parser: Parser): DataFrame = {
    val files = fleet(spark, dir, glob)
    val head = parser(files.head, readBytes(files.conf, files.head))
    // Pin types with the same CSV inference the single-file path uses.
    val types = LabTable.csvTypes(spark, head.body, head.delim)
    require(types.size == head.cols.size, s"${files.head}: " +
      s"${head.cols.size} header columns, ${types.size} in the first body line")
    val targets = head.cols.zip(types)
    val schema = StructType(
      StructField("source_file", StringType, nullable = false) +:
        targets.map { case (c, t) => StructField(c, t) })
    val rows = files.bytes.flatMap { case (p, bytes) =>
      val parsed = parser(p, bytes)
      val srcIdx = targets.map { case (name, dt) =>
        (parsed.cols.indexOf(name), dt)
      }
      parsed.body.iterator.map { line =>
        val fields = line.split(parsed.delim.toString, -1)
        Row.fromSeq(p +: srcIdx.map { case (i, dt) =>
          if (i < 0 || i >= fields.length) null
          else convert(fields(i).trim, dt)
        })
      }
    }
    LabTable.withUnits(spark.createDataFrame(rows, schema),
      head.cols.zip(head.units))
  }

  /** Distributed typed-rows ingest (formats whose parsers emit typed
    * rows directly): schema = `source_file` + the head file's schema
    * (or `fixedSchema`, e.g. a static union of known variants);
    * reconciliation is by column name, files packed into tasks by
    * [[pack]]. Files must agree on the TYPE of any shared column name (one
    * instrument family per load, like the single-file path). */
  def loadTyped(spark: SparkSession, dir: String, glob: String,
                parser: RowParser,
                fixedSchema: Option[StructType] = None): DataFrame = {
    val files = fleet(spark, dir, glob)
    val head = parser(files.head, readBytes(files.conf, files.head))
    val target = fixedSchema.getOrElse(head.schema)
    val schema = StructType(
      StructField("source_file", StringType, nullable = false) +:
        target.fields.toSeq)
    val targetNames = target.fieldNames.toSeq
    val rows = spark.createDataFrame(files.bytes.flatMap { case (p, bytes) =>
      val parsed = parser(p, bytes)
      val idx = targetNames.map(n => parsed.schema.fieldNames.indexOf(n))
      parsed.rows.iterator.map { r =>
        Row.fromSeq(p +: idx.map(i => if (i < 0) null else r.get(i)))
      }
    }, schema)
    val unitMeta = head.units
    rows.select(rows.columns.map { c =>
      unitMeta.get(c) match {
        case Some(u) => org.apache.spark.sql.functions.col(c)
          .as(c, new org.apache.spark.sql.types.MetadataBuilder()
            .putString(head.unitKey, u).build())
        case None => org.apache.spark.sql.functions.col(c)
      }
    }.toSeq: _*)
  }

  /** One row per file: (source_file, type, file_metadata JSON) —
    * the table-level metadata the single-file loader carries on
    * [[LabTable]], in queryable frame form. */
  def metadataTable(spark: SparkSession, dir: String, glob: String,
                    parser: (String, Array[Byte]) => JObj): DataFrame = {
    val schema = StructType(Seq(
      StructField("source_file", StringType, nullable = false),
      StructField("type", StringType),
      StructField("file_metadata", StringType)))
    spark.createDataFrame(fleet(spark, dir, glob).bytes.map { case (p, bytes) =>
      val tableMeta = parser(p, bytes)
      val tpe = tableMeta.get("type")
        .collect { case JStr(s) => s }.orNull
      val fm = tableMeta.get("file_metadata").map(_.render).orNull
      Row(p, tpe, fm)
    }, schema)
  }

  /** Numeric conversion matching the pinned CSV-inferred schema;
    * unparseable cells become null (permissive, as Spark CSV). */
  private def convert(s: String, dt: DataType): Any =
    try dt match {
      case LongType => java.lang.Long.parseLong(s)
      case DoubleType => java.lang.Double.parseDouble(s)
      case _ => s
    } catch { case _: NumberFormatException => null }

  /** The files of one load: `head` (the first path, which pins the
    * schema on the driver), the Hadoop `conf` they are listed and read
    * under, and every matching file as (path, bytes), read in the tasks. */
  private final case class Fleet(head: String, conf: Configuration,
                                 bytes: RDD[(String, Array[Byte])])

  /** The files matching `glob` under `dir`, in sorted path order,
    * packed into tasks by [[pack]]. The session's Hadoop conf lists
    * them on the driver and is broadcast once for the tasks' reads, so
    * a filesystem the listing resolves is one the tasks resolve too. */
  private def fleet(spark: SparkSession, dir: String, glob: String): Fleet = {
    val conf = spark.sessionState.newHadoopConf()
    val pattern = new Path(dir, glob)
    val found = Option(pattern.getFileSystem(conf).globStatus(pattern))
      .toSeq.flatten.filter(_.isFile).sortBy(_.getPath.toString)
    require(found.nonEmpty, s"no files matching $glob under $dir")
    val groups = pack(spark, found)
    val shared = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val bytes = spark.sparkContext.parallelize(groups, groups.size)
      .flatMap(_.iterator.map(p => (p, readBytes(shared.value.value, p))))
    Fleet(found.head.getPath.toString, conf, bytes)
  }

  /** Spark's file-split rule, as a Parquet or CSV scan applies it:
    * the split size from `spark.sql.files.maxPartitionBytes`,
    * `spark.sql.files.openCostInBytes` and the session's parallelism
    * ([[FilePartition.maxSplitBytes]]), then next-fit packing where
    * each file costs its length plus the open cost. Whole files only
    * (an export parses as a unit); path order is kept within and
    * across tasks. */
  private def pack(spark: SparkSession, files: Seq[FileStatus]): Seq[Seq[String]] = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(spark,
      files.map(_.getLen + openCost).sum)
    val groups = Seq.newBuilder[Seq[String]]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    var size = 0L
    files.foreach { f =>
      if (current.nonEmpty && size + f.getLen > maxSplit) {
        groups += current.toSeq; current.clear(); size = 0L
      }
      size += f.getLen + openCost
      current += f.getPath.toString
    }
    (groups += current.toSeq).result()
  }

  private def readBytes(conf: Configuration, path: String): Array[Byte] = {
    val hPath = new Path(path)
    val in = hPath.getFileSystem(conf).open(hPath)
    try in.readAllBytes()
    finally in.close()
  }
}
