package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Blake2b, JStr}
import graft.sources._

/** Golden tests against the reference fixture corpus — expected
  * values captured from the reference's OBSERVED behavior (running
  * labetl on the same fixtures), including the full file_metadata
  * JSON byte-for-byte. */
class LabSourcesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private val staVal = "/root/reference/tests/test_files/STA/DF_FILED_VAL_STA_N2_10K_240211_R1.csv"
  private val staDes = "/root/reference/tests/test_files/STA/DF_FILED_DES_STA_N2_10K_231028_R1.csv"
  private val mcc = "/root/reference/tests/test_files/MCC/Hemp_Sheet_MCC_30K_min_220112_R1.txt"
  private val hfm = "/root/reference/tests/test_files/HFM/Black_PMMA_HFM_Dry_conductivity_211115_R1.tst"

  private def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("blake2b matches RFC 7693 vectors") {
    assert(Blake2b.hex("abc".getBytes) ==
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d17d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
    assert(Blake2b.hex(Array.emptyByteArray) ==
      "786a02f742015903c6c6fd852552d272912f4740e15847618a86e217f71f5419d25e1031afee585313896444934eb04b903a685b1448b755d56f701afe9be2ce")
    // >128-byte input exercises the multi-block path
    assert(Blake2b.hex(("a" * 300).getBytes).length == 128)
  }

  test("blake2b matches the reference's golden fixture digests") {
    assert(Blake2b.hexOfFile(mcc) ==
      "894746aebd128d33e8f24b068795787762ef0ef2cb0edcceb8eeb75a059ba9daf989ffd14de6297aa32b9957f0c3a671f316003c1bc2fa8359318d173ff9d828")
    assert(Blake2b.hexOfFile(staVal) ==
      "8051974aee0fe044cd9c2f1f29f9ae24c05caf184aeb115aa8964c8ee598e19b1700c661586d84b5ec791f684a93a80ab6dce38d492b2ca4bc669137f44c6f37")
  }

  test("blake2b native expression hashes binaryFile content in SQL") {
    import org.apache.spark.sql.functions._
    Blake2b.register(spark)
    val df = spark.read.format("binaryFile")
      .load("/root/reference/tests/test_files/MCC")
      .select(expr("blake2b(content)").as("h"), expr("blake2b(CAST(NULL AS BINARY))").as("n"))
    val row = df.head()
    assert(row.getAs[String]("h") == Blake2b.hexOfFile(mcc))
    assert(row.get(1) == null)
  }

  test("encoding detection matches libmagic labels on fixtures") {
    assert(Encoding.detectFile(staVal) == "iso-8859-1")
    assert(Encoding.detectFile(mcc) == "us-ascii")
    assert(Encoding.detectFile(hfm) == "utf-16le")
  }

  test("STA VAL: golden shape, dtypes, units") {
    val t = LabEtl.loadStaData(spark, staVal)
    assert(t.df.columns.toSeq == Seq(
      "temperature", "time", "mass", "dsc", "dtg", "sensitivity", "segment"))
    assert(t.df.count() == 1094)
    val types = t.df.schema.fields.map(_.dataType.simpleString).toSeq
    assert(types == Seq("double", "double", "double", "double", "double", "double", "bigint"))
    assert(t.unitOf("temperature").contains("°C"))
    assert(t.unitOf("time").contains("min"))
    assert(t.unitOf("mass").contains("%"))
    assert(t.unitOf("dsc").contains("mW/mg"))
    assert(t.unitOf("dtg").contains("%/min"))
    assert(t.unitOf("sensitivity").contains("uV/mW"))
    assert(t.unitOf("segment").isEmpty)
    assert(t.typeTag.contains("STA"))
  }

  test("STA VAL: file_metadata JSON is byte-identical to the reference") {
    val t = LabEtl.loadStaData(spark, staVal)
    assert(t.fileMetadata.get.render == golden("sta_val_file_metadata.json"))
  }

  test("STA DES: 6 columns, (subtr.2) qualifiers stripped, byte-identical metadata") {
    val t = LabEtl.loadStaData(spark, staDes)
    assert(t.df.columns.toSeq == Seq(
      "temperature", "time", "dsc", "mass", "dtg", "sensitivity"))
    assert(t.df.count() == 6733)
    assert(t.fileMetadata.get.render == golden("sta_des_file_metadata.json"))
  }

  test("MCC: golden shape, units, byte-identical metadata") {
    val t = LabEtl.loadMccData(spark, mcc)
    assert(t.df.columns.toSeq == Seq(
      "time", "temperature", "n2_flow_rate", "o2_flow_rate",
      "flow_rate", "oxygen", "hrr", "heating_rate"))
    assert(t.df.count() == 2584)
    assert(t.df.schema.fields.forall(_.dataType.simpleString == "double"))
    assert(t.unitOf("time").contains("s"))
    assert(t.unitOf("temperature").contains("°C"))
    assert(t.unitOf("n2_flow_rate").contains("ml/min"))
    assert(t.unitOf("oxygen").contains("%"))
    assert(t.unitOf("hrr").contains("W/g"))
    assert(t.unitOf("heating_rate").contains("°C/s"))
    assert(t.fileMetadata.get.render == golden("mcc_file_metadata.json"))
    assert(t.typeTag.contains("MCC"))
  }

  test("parquet sink round-trips data, units, and table metadata") {
    val t = LabEtl.loadMccData(spark, mcc)
    val out = tempDir("labtbl") + "/mcc"
    t.write(out)
    val back = LabTable.read(spark, out)
    assert(back.df.count() == 2584)
    assert(back.unitOf("temperature").contains("°C"))
    assert(back.tableMeta.get("type").contains(JStr("MCC")))
    assert(back.fileMetadata.get.render == t.fileMetadata.get.render)
  }

  test("parquet footer carries file_metadata/type keys byte-identically") {
    import graft.sources.ParquetFooter
    val t = LabEtl.loadMccData(spark, mcc)
    val out = tempDir("labftr") + "/mcc"
    t.write(out)
    val part = new java.io.File(out).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    val kv = ParquetFooter.readKeyValue(part.getPath)
    // the footer value is the same byte string pyarrow would persist
    // from the reference's json.dumps (util.py:56-71)
    assert(kv("file_metadata") == golden("mcc_file_metadata.json"))
    assert(kv("type") == "MCC")
    // spark still reads the data fine after the footer surgery
    assert(spark.read.parquet(out).count() == 2584)
    // and LabTable.read restores metadata from the footer alone
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_lab_metadata.json"))
    val back = LabTable.read(spark, out)
    assert(back.fileMetadata.get.render == t.fileMetadata.get.render)
    assert(back.typeTag.contains("MCC"))
  }

  test("HFM conductivity: golden table + byte-identical metadata") {
    val t = LabEtl.loadHfmData(spark, hfm)
    assert(t.df.columns.toSeq == Seq("setpoint", "upper_temperature",
      "lower_temperature", "upper_thermal_conductivity", "lower_thermal_conductivity"))
    val rows = t.df.orderBy(org.apache.spark.sql.functions.col("setpoint")).collect()
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Int]("setpoint")).toSeq == (1 to 6))
    assert(rows.head.getAs[Double]("upper_temperature") == 5.0)
    assert(rows.head.getAs[Double]("lower_thermal_conductivity") == 0.1494)
    assert(t.df.schema("upper_temperature").metadata.getString("units") == "°C")
    assert(t.df.schema("upper_thermal_conductivity").metadata.getString("units") == "W/mK")
    assert(t.fileMetadata.get.render == golden("hfm_conductivity_file_metadata.json"))
  }

  test("HFM heat capacity: golden table + byte-identical metadata") {
    val t = LabEtl.loadHfmData(spark,
      "/root/reference/tests/test_files/HFM/Black_PMMA_HFM_Dry_heatcapacity_211117_R3.tst")
    assert(t.df.columns.toSeq == Seq("setpoint", "average_temperature", "volumetric_heat_capacity"))
    val rows = t.df.orderBy(org.apache.spark.sql.functions.col("setpoint")).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Double]("volumetric_heat_capacity")).toSeq ==
      Seq(1576159.0, 1642666.0, 1651533.0, 1752361.0))
    assert(t.df.schema("volumetric_heat_capacity").metadata.getString("units") == "J/(m³K)")
    assert(t.fileMetadata.get.render == golden("hfm_heatcapacity_file_metadata.json"))
  }

  test("Cone XLSM: scan data shape, renames, units, metadata merge") {
    val t = LabEtl.loadConeData(spark,
      "/root/reference/tests/test_files/Cone/Asphalt_Shingle_Cone_HF25_220415_R1.XLSM")
    assert(t.df.columns.toSeq == Seq(
      "time", "stack_temperature", "smoke_temperature", "exhaust_pressure",
      "smoke_laser_compensation", "smoke_laser_measurement", "co_meter",
      "co2_meter", "o2_meter", "sample_mass", "start_test", "flame_verification"))
    assert(t.df.count() == 2057)
    assert(t.unitOf("time").contains("s"))
    assert(t.unitOf("stack_temperature").contains("°C"))
    assert(t.unitOf("exhaust_pressure").contains("Pa"))
    assert(t.unitOf("sample_mass").contains("g"))
    assert(t.unitOf("start_test").isEmpty) // no unit in row 5
    val fm = t.fileMetadata.get.asInstanceOf[graft.functions.JObj]
    assert(fm.get("test_id").contains(graft.functions.JStr("Shingles_HF25_1")))
    assert(fm.get("heat_flux").contains(graft.functions.JInt(25)))
    assert(fm.get("comment").exists(_.isInstanceOf[graft.functions.JArr])) // PRE+POST merged
    assert(fm.get("sample_mass").exists {
      case graft.functions.JDbl(d) => math.abs(d - 35.86000061035156) < 1e-9
      case _ => false
    })
    val lastRow = t.df.orderBy(org.apache.spark.sql.functions.desc("time")).head()
    assert(lastRow.getAs[Double]("time") == 513.75)
    assert(t.typeTag.contains("Cone"))
  }

  test("Cone numeric modes: native ints vs reference float round trip") {
    import graft.sources.ConeSource
    val p = "/root/reference/tests/test_files/Cone/Asphalt_Shingle_Cone_HF25_220415_R1.XLSM"
    val native = ConeSource.load(spark, p).fileMetadata.get
      .asInstanceOf[graft.functions.JObj]
    val faithful = ConeSource.load(spark, p, ConeSource.NumericMode.FloatRoundTrip)
      .fileMetadata.get.asInstanceOf[graft.functions.JObj]
    // integral cell: int natively, float under the reference's
    // int(str(float)) round trip (int("25.0") never parses)
    assert(native.get("heat_flux").contains(graft.functions.JInt(25)))
    assert(faithful.get("heat_flux").contains(graft.functions.JDbl(25.0)))
    // non-integral cells agree in both modes
    assert(native.get("sample_mass") == faithful.get("sample_mass"))
    // and the rendered JSON differs exactly at the integral values
    assert(native.render.contains("\"heat_flux\": 25"))
    assert(faithful.render.contains("\"heat_flux\": 25.0"))
  }

  test("Cone XLSM: second fixture loads") {
    val t = LabEtl.loadConeData(spark,
      "/root/reference/tests/test_files/Cone/181031_LaGrange_5-1.XLSM")
    assert(t.df.count() > 0)
    assert(t.df.columns.nonEmpty)
  }

  private val ngbFixtures = Seq(
    "PT_Deck_Board_3_1",
    "Ford_3FMT_Carpet_STA_N2_10K_240603_R1",
    "Hyundai_KM8K_Carpet_STA_N2_10K_240711_R3",
    "IBHS_Shingle_102-B-5-1_Sample_2_STA_N2_30K_240716_R1")

  private val ngbBs3Fixtures = Seq(
    "Ford_3FMT_Liner_STA_N2_10K_240606_Correction_R1",
    "PT_Deck_Board_Correction_3_1")

  test("NGB binary: columns, rows, per-column stats match reference goldens") {
    import graft.functions._
    (ngbFixtures.map((_, "ngb-ss3")) ++ ngbBs3Fixtures.map((_, "ngb-bs3"))).foreach { case (name, ext) =>
      val t = LabEtl.loadNgbData(spark,
        s"/root/reference/tests/test_files/STA/$name.$ext")
      val s = PyJsonParser.parse(golden(s"ngb_${name}_summary.json")).asInstanceOf[JObj]
      val expCols = s.get("columns").get.asInstanceOf[JArr].items.map(_.asInstanceOf[JStr].s)
      assert(t.df.columns.toSeq == expCols, s"$name columns")
      val expRows = s.get("num_rows").get.asInstanceOf[JInt].i
      assert(t.df.count() == expRows, s"$name rows")
      val stats = s.get("stats").get.asInstanceOf[JObj]
      val data = t.df.collect()
      def num(v: JVal): Double = v match {
        case JDbl(d) => d
        case JInt(i) => i.toDouble
        case other => fail(s"unexpected $other")
      }
      expCols.foreach { c =>
        val st = stats.get(c).get.asInstanceOf[JObj]
        val vals = data.map(_.getAs[Double](c))
        val exp3 = st.get("first3").get.asInstanceOf[JArr].items.map(num)
        assert(vals.take(3).toSeq == exp3, s"$name.$c first3")
        val last3 = st.get("last3").get.asInstanceOf[JArr].items.map(num)
        assert(vals.takeRight(3).toSeq == last3, s"$name.$c last3")
        val expSum = num(st.get("sum").get)
        assert(vals.foldLeft(0.0)(_ + _) == expSum, s"$name.$c sum")
      }
    }
  }

  test("NGB binary: file_metadata JSON is byte-identical to the reference") {
    (ngbFixtures.map((_, "ngb-ss3")) ++ ngbBs3Fixtures.map((_, "ngb-bs3"))).foreach { case (name, ext) =>
      val t = LabEtl.loadNgbData(spark,
        s"/root/reference/tests/test_files/STA/$name.$ext")
      assert(t.fileMetadata.get.render == golden(s"ngb_${name}_file_metadata.json"),
        s"$name metadata")
    }
  }

  test("FTIR OPUS: reflectance file — grid, columns, interp values") {
    val t = LabEtl.loadFtirData(spark,
      "/root/reference/tests/test_files/FTIR/Upper_Fiber_Cement_Board_3.0")
    assert(t.df.columns.toSeq == Seq(
      "wavelength", "reflectance", "sample_spectrum", "reference_spectrum"))
    assert(t.df.count() == 2799)
    assert(t.unitOf("wavelength").contains("µm"))
    assert(t.unitOf("reflectance").contains("a.u."))
    val rows = t.df.collect() // row order preserved from driver-side build
    def c(i: Int, n: String) = rows(i).getAs[Double](n)
    // spot values computed independently (numpy) from the raw blocks
    assert(c(0, "wavelength") == 1.6676645598904198)
    assert(c(0, "reflectance") == 0.39001622796058655)
    assert(c(0, "sample_spectrum") == 0.0032995743677020073)
    assert(math.abs(c(0, "reference_spectrum") - 0.008460095152258875) < 1e-15)
    assert(c(2798, "wavelength") == 16.67128333343831)
    val sums = t.df.columns.map(n => rows.map(_.getAs[Double](n)).sum)
    assert(math.abs(sums(0) - 11945.878578669719) < 1e-6)
    assert(math.abs(sums(1) - 522.1274716705084) < 1e-9)
    assert(math.abs(sums(3) - 176.15852804388854) < 1e-9)
    val fm = t.fileMetadata.get.asInstanceOf[graft.functions.JObj]
    assert(fm.get("data_performed").contains(graft.functions.JStr("2021-06-14T19:37:48.950000")))
    assert(t.typeTag.contains("FTIR"))
  }

  test("FTIR OPUS: absorbance (ATR) file with phase spectrum") {
    val t = LabEtl.loadFtirData(spark,
      "/root/reference/tests/test_files/FTIR/Bmore_Jacket_CSTM_Stripe_ATR_240517_R2.0")
    assert(t.df.columns.contains("absorbance"))
    assert(t.df.columns.contains("sample_phase"))
    assert(t.df.count() == 4044)
  }

  test("FTIR OPUS: third fixture loads with a main data key") {
    val t = LabEtl.loadFtirData(spark,
      "/root/reference/tests/test_files/FTIR/Natural_Nylon_Sheet_Extruded_0.125_Trans_IS_R1_221212.0")
    assert(t.df.count() == 3577)
    assert(t.df.columns.head == "wavelength")
  }

  test("NGB aligned mode names channels by their own header and keeps the last channel") {
    val parity = LabEtl.loadNgbData(spark,
      "/root/reference/tests/test_files/STA/PT_Deck_Board_3_1.ngb-ss3")
    val aligned = graft.sources.NgbSource.load(spark,
      "/root/reference/tests/test_files/STA/PT_Deck_Board_3_1.ngb-ss3", aligned = true)
    // parity mode carries the raw '8c' channel under the name 'time';
    // aligned mode keeps '8c' as itself and 'time' holds 8d's data
    assert(parity.df.columns.contains("31"))
    assert(aligned.df.columns.contains("8c"))
    assert(aligned.df.columns.contains("time"))
    val pTime = parity.df.select("time").collect().map(_.getDouble(0))
    val aTime = aligned.df.select("time").collect().map(_.getDouble(0))
    val a8c = aligned.df.select("8c").collect().map(_.getDouble(0))
    assert(pTime.sameElements(a8c)) // parity 'time' is really channel 8c
    assert(!pTime.sameElements(aTime))
  }

  test("STA first/last data values parse correctly") {
    val t = LabEtl.loadStaData(spark, staVal)
    val first = t.df.orderBy(org.apache.spark.sql.functions.col("time")).head()
    assert(first.getAs[Double]("temperature") == 26.207)
    assert(first.getAs[Long]("segment") == 1L)
  }
}
