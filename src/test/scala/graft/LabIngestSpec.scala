package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{JStr, JVal}
import graft.sources.{LabDirectory, LabTable, MccSource, ParquetFooter, StaSource}

/** The text-export ingest on files written here (STA in its VAL and DES
  * variants, MCC): the driver-typed CSV body against Spark's own CSV
  * reader, the fleet load against the single-file loads it packs into
  * tasks by Spark's file-split rule, and the parquet sink under a
  * `file:` URI. */
class LabIngestSpec extends AnyFunSuite with TempDirs {
  import LabIngestSpec._
  private lazy val spark = TestSpark.spark

  /** What `csvBody` computed before it typed rows on the driver: Spark's
    * CSV reader with schema inference over a Dataset of the lines. */
  private def sparkCsv(lines: Seq[String], delim: Char, cols: Seq[String]): DataFrame = {
    import spark.implicits._
    val df = spark.read
      .option("delimiter", delim.toString)
      .option("inferSchema", "true")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      .csv(spark.createDataset(lines))
      .toDF(cols: _*)
    df.select(df.schema.fields.map { f =>
      if (f.dataType == IntegerType) col(f.name).cast("long").as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }

  test("csvBody types and values equal Spark's CSV reader with inference, " +
    "and start no job") {
    val cases: Seq[(String, Char, Seq[String])] = Seq(
      ("int only", ',', Seq("1,2", "3,-4", "+5,6")),
      ("int beyond 32 bits", ',', Seq("1,3000000000", "2,4")),
      ("int and double", ',', Seq("1,2.5", "3,4", "5.0,6")),
      ("exponents", ',', Seq("1e3,2.5E-2", "4,-5e+1")),
      ("NaN and infinities", ',', Seq("NaN,Infinity", "1.5,-Infinity", "2,3")),
      ("empty cells", ',', Seq("1,,3", ",2,", "4,5,6", "7,,")),
      ("all-empty column", ',', Seq("1,", "2,")),
      ("padded whitespace", ',', Seq("  1 ,  2.5  ", " 3,4 ", "5 ,\t6\t")),
      ("string column", ',', Seq("a,1", "b c,2", "3,x")),
      ("date-like column", ',', Seq("2024-02-11,1", "2024-03-01,2")),
      ("timestamp-like column", ',', Seq("2024-02-11 10:00:00,1", "2024-03-01 11:30:00,2")),
      ("short and long rows", ',', Seq("1,2,3", "4,5", "6,7,8,9", "10")),
      ("blank lines", ',', Seq("1,2", "   ", "", "3,4")),
      ("tab-delimited with CR", '\t', Seq("1.5\t2\r", "3\t4\r")),
      ("semicolon", ';', Seq("1;a", "2;b")))
    cases.foreach { case (name, delim, lines) =>
      val width = lines.find(_.exists(_ != ' ')).get.split(java.util.regex.Pattern
        .quote(delim.toString), -1).length
      val cols = (0 until width).map(i => s"c$i")
      val (got, jobs) = StoreReadSpec.jobsDuring(spark)(
        LabTable.csvBody(spark, lines, delim, cols))
      val want = sparkCsv(lines, delim, cols)
      assert(got.schema == want.schema, name)
      assert(got.collect().toSeq == want.collect().toSeq, name)
      assert(jobs.isEmpty, s"$name: $jobs")
    }
  }

  test("single-file STA and MCC loads run no job; their frames equal the " +
    "Spark-reader typing of the same body") {
    val dir = tempDir("labingest_single")
    val sta = writeSta(dir, "a_VAL.csv", Val, 40, 1)
    val mcc = writeMcc(dir, "b.txt", 30, 2)
    Seq(sta -> StaSource.parseBytes _, mcc -> MccSource.parseBytes _).foreach {
      case (f, parse) =>
        val (t, jobs) = StoreReadSpec.jobsDuring(spark)(
          if (f == sta) LabEtl.loadStaData(spark, f) else LabEtl.loadMccData(spark, f))
        assert(jobs.isEmpty, s"$f: $jobs")
        val p = parse(f, Files.readAllBytes(new File(f).toPath))
        val want = sparkCsv(p.body, p.delim, p.cols)
        assert(t.df.schema.map(f => (f.name, f.dataType)) ==
          want.schema.map(f => (f.name, f.dataType)))
        assert(t.df.collect().toSeq == want.collect().toSeq)
    }
  }

  /** Rows of each file's single-file load, projected on `fleet`'s
    * columns (absent → null) and tagged with the fleet's `source_file`,
    * concatenated in sorted path order. */
  private def singles(fleet: DataFrame, files: Seq[String],
                      load: String => LabTable): Seq[Row] = {
    val sources = fleet.select("source_file").distinct().collect().map(_.getString(0))
    files.sorted.flatMap { f =>
      val src = sources.find(_.endsWith("/" + new File(f).getName)).get
      val df = load(f).df
      df.select(lit(src).as("source_file") +: fleet.schema.fields.toSeq.drop(1).map { fd =>
        if (df.columns.contains(fd.name)) col(fd.name).cast(fd.dataType)
        else lit(null).cast(fd.dataType).as(fd.name)
      }: _*).collect().toSeq
    }
  }

  test("fleet load equals the single loads in sorted path order, with " +
    "units and per-file metadata; default confs pack 3 tiny files into 3 tasks") {
    val dir = tempDir("labingest_fleet")
    val files = Seq(
      writeSta(dir, "s1_VAL.csv", Val, 30, 11), writeSta(dir, "s2_DES.csv", Des, 25, 12),
      writeSta(dir, "s3_VAL.csv", Val, 35, 13))
    val df = LabDirectory.loadSta(spark, dir)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.collect().toSeq == singles(df, files, StaSource.load(spark, _)))
    val head = StaSource.load(spark, files.head)
    head.df.schema.fields.foreach(f => assert(df.schema(f.name).metadata == f.metadata, f.name))
    assert(df.filter(col("source_file").endsWith("s2_DES.csv") &&
      col("segment").isNotNull).count() == 0L)
    val meta = LabDirectory.staMetadata(spark, dir).collect()
    assert(meta.map(_.getString(0).split('/').last).toSeq == files.map(new File(_).getName))
    meta.zip(files).foreach { case (r, f) =>
      val t = StaSource.load(spark, f)
      assert(r.getString(1) == "STA")
      assert(r.getString(2) == t.fileMetadata.get.render)
    }

    val mdir = tempDir("labingest_mcc")
    val mccs = (1 to 3).map(i => writeMcc(mdir, s"m$i.txt", 20 + 5 * i, 20 + i))
    val mdf = LabDirectory.loadMcc(spark, mdir)
    assert(mdf.collect().toSeq == singles(mdf, mccs, MccSource.load(spark, _)))
    LabDirectory.mccMetadata(spark, mdir).collect().zip(mccs).foreach { case (r, f) =>
      assert(r.getString(1) == "MCC")
      assert(r.getString(2) == MccSource.load(spark, f).fileMetadata.get.render)
    }
  }

  test("files pack into tasks by Spark's split rule under the session's " +
    "openCostInBytes and maxPartitionBytes, keeping path order") {
    val dir = tempDir("labingest_pack")
    val files = (1 to 8).map(i =>
      writeSta(dir, f"s$i%02d_VAL.csv", Val, 10 + 7 * i, 30 + i))
    val session = spark.newSession()
    session.conf.set("spark.sql.files.openCostInBytes", "1")
    session.conf.set("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
    val expected = splitRule(files.map(f => new File(f).length), openCost = 1L,
      maxPartitionBytes = 1L << 20, parallelism = spark.sparkContext.defaultParallelism)
    assert(expected.size > 1 && expected.exists(_.size > 1), expected) // the premise
    val df = LabDirectory.loadSta(session, dir)
    val byTask = df.select("source_file").rdd
      .mapPartitions(it => Iterator(it.map(_.getString(0).split('/').last).toSeq.distinct))
      .collect().toSeq
    assert(byTask == expected.map(_.map(i => new File(files(i)).getName)))
    assert(df.collect().toSeq == singles(df, files, StaSource.load(spark, _)))
    assert(LabDirectory.staMetadata(session, dir).rdd.getNumPartitions == expected.size)
  }

  test("a setting on sparkContext.hadoopConfiguration reaches the read tasks") {
    val dir = tempDir("labingest_conf")
    val files = (1 to 3).map(i => writeMcc(dir, s"m$i.txt", 10, 40 + i))
    val hconf = spark.sparkContext.hadoopConfiguration
    TaskOpens.names.clear()
    hconf.set("fs.file.impl", classOf[TaskOpenCountingFs].getName)
    hconf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      assert(LabDirectory.loadMcc(spark, dir).count() == 30L)
      assert(LabDirectory.mccMetadata(spark, dir).count() == 3L)
    } finally {
      hconf.unset("fs.file.impl")
      hconf.unset("fs.file.impl.disable.cache")
    }
    import scala.jdk.CollectionConverters._
    val opened = TaskOpens.names.asScala.toSeq
    files.foreach { f =>
      assert(opened.count(_ == new File(f).getName) == 2, opened) // load + metadata
    }
  }

  test("LabTable write and read round-trip through a file: URI; another " +
    "scheme fails before anything is written") {
    import spark.implicits._
    val df = LabTable.withUnits(Seq((1L, 2.5, "a"), (2L, 3.5, "b")).toDF("n", "t", "s"),
      Seq("n" -> None, "t" -> Some("°C"), "s" -> None))
    val meta = JVal.obj("file_metadata" -> JVal.obj("sample" -> JStr("x")),
      "type" -> JStr("STA"))
    val dir = tempDir("labingest_uri")
    val uri = s"file://$dir/out"
    LabTable(df, meta).write(uri)
    val parts = new File(s"$dir/out").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach(p => assert(ParquetFooter.readKeyValue(p.getPath).get("type").contains("STA")))
    assert(new File(s"$dir/out/_lab_metadata.json").isFile)
    Seq(uri, s"$dir/out").foreach { path =>
      val back = LabTable.read(spark, path)
      assert(back.tableMeta == meta, path)
      assert(back.unitOf("t").contains("°C") && back.unitOf("n").isEmpty, path)
      assert(back.df.orderBy("n").collect().toSeq == df.collect().toSeq, path)
    }
    val other = intercept[IllegalArgumentException](
      LabTable(df, meta).write("nosuchfs://host/out"))
    assert(other.getMessage.contains("nosuchfs"), other.getMessage)
    intercept[IllegalArgumentException](LabTable.read(spark, "nosuchfs://host/out"))
  }
}

object LabIngestSpec {

  sealed trait StaVariant
  case object Val extends StaVariant
  case object Des extends StaVariant

  private val StaValHeader = Seq("Temp./°C", "Time/min", "Mass(subtr.)/%",
    "DSC(subtr.)/(mW/mg)", "DTG(subtr.)/(%/min)", "Sensit./(uV/mW)", "Segment")
  private val StaDesHeader = StaValHeader.take(6).map(_.replace("subtr.)", "subtr.2)"))

  /** A Netzsch STA text export (ISO-8859-1, `#` preamble, `##` header):
    * the VAL variant carries an integral `Segment` column, DES does not. */
  def writeSta(dir: String, name: String, variant: StaVariant, rows: Int, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val header = if (variant == Val) StaValHeader else StaDesHeader
    val meta = Seq(
      "#EXPORTTYPE:DATA ALL",
      s"#FILE:${name.stripSuffix(".csv")}.ngb-ss3",
      "#FORMAT:NETZSCH5",
      "#FTYPE:ANSI",
      s"#IDENTITY:$variant-${1000 + rnd.nextInt(9000)}",
      "#DATE/TIME:02/11/2024 10:15:00 (UTC-5)",
      "#INSTRUMENT:NETZSCH STA 449F3A",
      s"#SAMPLE MASS /mg:${"%.3f".format(5 + 15 * rnd.nextDouble())}",
      "#PURGE 1 MFC:NITROGEN,50.0 ml/min",
      "#SEG. 1:25°C/10.0(K/min)/650°C")
    val body = (0 until rows).map { i =>
      val t = i * 0.05
      val cells = Seq("%.3f".format(25 + 10 * t), "%.4f".format(t),
        "%.3f".format(100 - t), "%.4f".format(rnd.nextGaussian() * 0.5),
        "%.4f".format(-0.5 + rnd.nextGaussian() * 0.1), "%.4f".format(1.5 + rnd.nextDouble() / 100))
      (if (variant == Val) cells :+ (1 + rnd.nextInt(3)).toString else cells).mkString(",")
    }
    write(dir, name, (meta ++ Seq("##" + header.mkString(",")) ++ body).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.ISO_8859_1))
  }

  private val MccHeader = Seq("Time (s)", "Temperature (C)", "N2 flow rate (cc/min)",
    "O2 flow rate (cc/min)", "HRR (W/g)")

  /** An FAA MCC text export (ASCII, CRLF, `key:\tvalue` preamble, `*`
    * separator, tab-delimited header and body). */
  def writeMcc(dir: String, name: String, rows: Int, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val meta = Seq(
      s"Sample ID:\t${name.stripSuffix(".txt")}",
      s"Sample Weight (mg):\t${"%.2f".format(2 + 4 * rnd.nextDouble())}",
      "Heating Rate (C/s):\t1.00",
      "Combustor Temp (C):\t900",
      "Calibration File:\tcalib_2021.cal",
      "T Correction Coefficients:\t0.000100\t1.010000\t-0.500000",
      "*")
    val body = (0 until rows).map { i =>
      Seq("%.2f".format(i * 0.25), "%.2f".format(75 + i * 0.25 + rnd.nextGaussian() / 10),
        "%.3f".format(80 + rnd.nextGaussian() / 20), "%.3f".format(20 + rnd.nextGaussian() / 20),
        "%.3f".format(math.abs(50 + 30 * rnd.nextGaussian()))).mkString("\t")
    }
    write(dir, name, (meta ++ Seq(MccHeader.mkString("\t")) ++ body)
      .mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII))
  }

  private def write(dir: String, name: String, bytes: Array[Byte]): String = {
    val f = new File(dir, name)
    Files.write(f.toPath, bytes)
    f.getPath
  }

  /** Spark's file-split rule, written out independently: split size
    * `min(maxPartitionBytes, max(openCost, Σ(len + openCost) / parallelism))`,
    * next-fit in path order. Returns groups of file indexes. */
  def splitRule(lens: Seq[Long], openCost: Long, maxPartitionBytes: Long,
                parallelism: Int): Seq[Seq[Int]] = {
    val split = math.min(maxPartitionBytes,
      math.max(openCost, lens.map(_ + openCost).sum / parallelism))
    lens.indices.foldLeft((Vector.empty[Vector[Int]], 0L)) { case ((groups, size), i) =>
      if (groups.nonEmpty && groups.last.nonEmpty && size + lens(i) > split)
        (groups :+ Vector(i), lens(i) + openCost)
      else if (groups.isEmpty) (Vector(Vector(i)), lens(i) + openCost)
      else (groups.init :+ (groups.last :+ i), size + lens(i) + openCost)
    }._1
  }
}

/** Names of the files opened inside a task through [[TaskOpenCountingFs]]. */
object TaskOpens {
  val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** The local filesystem, recording each open made inside a task. */
class TaskOpenCountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (TaskContext.get() != null) TaskOpens.names.add(f.getName)
    super.open(f, bufferSize)
  }
}
