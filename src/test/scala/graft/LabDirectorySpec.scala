package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LabDirectory, MccSource, StaSource}

/** Fleet-scale directory ingest: executor-distributed parse of the
  * same files the single-file loaders handle, with identical schema
  * and metadata per file. */
class LabDirectorySpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  private val staDir = "/root/reference/tests/test_files/STA"
  private val mccDir = "/root/reference/tests/test_files/MCC"

  private def tempDirWithCopies(src: String, n: Int): String = {
    val dir = new java.io.File(tempDir("labdir"))
    val name = Paths.get(src).getFileName.toString
    (1 to n).foreach { i =>
      Files.copy(Paths.get(src),
        Paths.get(dir.toString, s"copy_${i}_$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  test("STA directory: one task per file, rows == sum of single loads") {
    val src = s"$staDir/DF_FILED_VAL_STA_N2_10K_240211_R1.csv"
    val dir = tempDirWithCopies(src, 3)
    val df = LabDirectory.loadSta(spark, dir)
    assert(df.rdd.getNumPartitions == 3) // partitions == files
    val single = StaSource.load(spark, src)
    assert(df.count() == 3 * single.df.count())
    // schema = source_file + exactly the single-file loader's schema
    assert(df.schema.fields.map(f => (f.name, f.dataType)).drop(1).toSeq ==
      single.df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(df.schema.fieldNames.head == "source_file")
    assert(df.select("source_file").distinct().count() == 3)
  }

  test("STA directory: the two export variants union by column name") {
    // the real STA dir holds both schema variants (VAL + DES exports)
    val df = LabDirectory.loadSta(spark, staDir)
    val val_ = StaSource.load(spark, s"$staDir/DF_FILED_VAL_STA_N2_10K_240211_R1.csv")
    val des = StaSource.load(spark, s"$staDir/DF_FILED_DES_STA_N2_10K_231028_R1.csv")
    assert(df.count() == val_.df.count() + des.df.count())
    // a column present only in the non-head variant is nulled, not dropped rows
    val headCols = df.schema.fieldNames.toSet
    assert(val_.df.schema.fieldNames.forall(c => headCols.contains(c)) ||
      des.df.schema.fieldNames.forall(c => headCols.contains(c)))
  }

  test("STA metadata table matches single-file metadata byte-for-byte") {
    val src = s"$staDir/DF_FILED_VAL_STA_N2_10K_240211_R1.csv"
    val dir = tempDirWithCopies(src, 2)
    val mt = LabDirectory.staMetadata(spark, dir).collect()
    assert(mt.length == 2)
    assert(mt.forall(_.getAs[String]("type") == "STA"))
    val single = StaSource.load(spark, src)
    // file_hash differs only via file NAME (copy_i_ prefix); compare the rest
    def scrub(s: String) = s.replaceAll("\"file\": \"[^\"]*\"", "\"file\": \"X\"")
    mt.foreach { r =>
      assert(scrub(r.getAs[String]("file_metadata")) ==
        scrub(single.fileMetadata.get.render))
    }
  }

  test("MCC directory ingest matches the single-file loader") {
    val src = s"$mccDir/Hemp_Sheet_MCC_30K_min_220112_R1.txt"
    val dir = tempDirWithCopies(src, 2)
    val df = LabDirectory.loadMcc(spark, dir)
    val single = MccSource.load(spark, src)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 2 * single.df.count())
    assert(df.schema.fields.map(f => (f.name, f.dataType)).drop(1).toSeq ==
      single.df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // numeric content identical: compare a column sum per copy
    import org.apache.spark.sql.functions._
    val dataCol = single.df.schema.fieldNames.last
    val fleet = df.groupBy("source_file").agg(sum(col(dataCol)).as("s"))
      .select("s").collect().map(_.getAs[Double]("s"))
    val base = single.df.agg(sum(col(dataCol))).head().getAs[Double](0)
    // partition-order-dependent float summation: tolerance, not equality
    fleet.foreach(s => assert(math.abs(s - base) < 1e-6, s"$s vs $base"))
  }

  test("HFM directory: both run variants union into the fleet schema") {
    val dir = "/root/reference/tests/test_files/HFM" // one of each variant
    val df = LabDirectory.loadHfm(spark, dir)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.schema.fieldNames.toSeq ==
      "source_file" +: graft.sources.HfmSource.FleetSchema.fieldNames.toSeq)
    val byType = df.groupBy("run_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the run-mode strings the reference derives from the report header
    assert(byType.keySet == Set("conductivity", "volumetric_heat_capacity"))
    // variant-absent columns are null, never dropped rows
    import org.apache.spark.sql.functions.col
    assert(df.filter(col("run_type") === "conductivity")
      .filter(col("volumetric_heat_capacity").isNotNull).count() == 0)
    assert(df.filter(col("run_type") === "volumetric_heat_capacity")
      .filter(col("average_temperature").isNull).count() == 0)
  }

  test("FTIR directory ingest matches single-file loads") {
    val dir = "/root/reference/tests/test_files/FTIR"
    val df = LabDirectory.loadFtir(spark, dir)
    assert(df.rdd.getNumPartitions == 3)
    // rows = sum over single loads that share the head file's columns
    val singles = new java.io.File(dir).listFiles().map(_.getPath).sorted
      .map(p => graft.sources.FtirSource.load(spark, p))
    val headCols = singles.head.df.columns.toSeq
    assert(df.schema.fieldNames.toSeq == "source_file" +: headCols)
    assert(df.count() == singles.map(_.df.count()).sum)
    val mt = LabDirectory.ftirMetadata(spark, dir).collect()
    assert(mt.length == 3 && mt.forall(_.getAs[String]("type") == "FTIR"))
  }

  test("FTIR union mode surveys all files and keeps every column") {
    val dir = "/root/reference/tests/test_files/FTIR"
    val surveyed = LabDirectory.surveySchema(spark, dir, "*.[0-9]*",
      graft.sources.FtirSource.parseRows)
    val singles = new java.io.File(dir).listFiles().map(_.getPath).sorted
      .map(p => graft.sources.FtirSource.load(spark, p))
    val allCols = singles.flatMap(_.df.columns).distinct.toSet
    assert(surveyed.fieldNames.toSet == allCols)
    val df = LabDirectory.loadFtir(spark, dir, union = true)
    assert(df.schema.fieldNames.toSet == allCols + "source_file")
    assert(df.count() == singles.map(_.df.count()).sum)
  }

  test("Cone directory ingest matches the single-file loader") {
    val dir = "/root/reference/tests/test_files/Cone"
    val df = LabDirectory.loadCone(spark, dir)
    assert(df.rdd.getNumPartitions == 2)
    val single = graft.sources.ConeSource.load(spark,
      s"$dir/181031_LaGrange_5-1.XLSM") // head file (sorted order)
    assert(df.schema.fields.map(f => (f.name, f.dataType)).drop(1).toSeq ==
      single.df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    import org.apache.spark.sql.functions.col
    assert(df.filter(col("source_file").endsWith("181031_LaGrange_5-1.XLSM"))
      .count() == single.df.count())
    val mt = LabDirectory.coneMetadata(spark, dir).collect()
    assert(mt.length == 2 && mt.forall(_.getAs[String]("type") == "Cone"))
  }

  test("units survive the fleet path") {
    val src = s"$staDir/DF_FILED_VAL_STA_N2_10K_240211_R1.csv"
    val dir = tempDirWithCopies(src, 1)
    val df = LabDirectory.loadSta(spark, dir)
    val single = StaSource.load(spark, src)
    single.df.schema.fields.foreach { f =>
      assert(df.schema(f.name).metadata == f.metadata, f.name)
    }
  }
}
