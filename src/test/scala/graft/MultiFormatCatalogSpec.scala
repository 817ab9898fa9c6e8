package graft

import graft.runtime.Catalog

/** The catalog's storage-format axis: every sink/scan semantic (S2, S5,
  * S6, S7) must hold identically for each supported format, not just
  * parquet — ORC as the columnar alternative, JSON/CSV as interchange
  * edges.
  */
class MultiFormatCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def rows(cat: Catalog): Set[(String, Long)] =
    cat.read("ods", "t").select("d", "v").as[(String, Long)].collect().toSet

  for (fmt <- Seq("orc", "json", "csv")) {
    test(s"$fmt: partitioned append round-trips and accumulates") {
      val cat = Catalog(spark, tmpDir(s"$fmt-wh"), fmt)
      cat.append(Seq(("2020-01-22", 1L)).toDF("d", "v"), "ods", "t", Seq("d"))
      cat.append(Seq(("2020-01-23", 2L)).toDF("d", "v"), "ods", "t", Seq("d"))
      assert(rows(cat) == Set(("2020-01-22", 1L), ("2020-01-23", 2L)))
    }

    test(s"$fmt: dynamic partition overwrite replaces only touched partitions") {
      val cat = Catalog(spark, tmpDir(s"$fmt-dpo"), fmt)
      cat.overwritePartitionsByName(
        Seq(("2020-01-22", 1L), ("2020-01-23", 2L)).toDF("d", "v"),
        "ods", "t", Seq("d"))
      cat.overwritePartitionsByName(
        Seq(("2020-01-23", 20L)).toDF("d", "v"), "ods", "t", Seq("d"))
      assert(rows(cat) == Set(("2020-01-22", 1L), ("2020-01-23", 20L)))
    }
  }

  test("createOrReplace round-trips typed columns through orc") {
    val cat = Catalog(spark, tmpDir("orc-types"), "orc")
    val df = Seq((1L, "a", 2.5), (2L, "b", -0.5)).toDF("id", "s", "x")
    cat.createOrReplace(df, "raw", "typed")
    val back = cat.read("raw", "typed")
    // ORC (like parquet) reads everything back nullable; names+types
    // are the round-trip contract
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "a", 2.5), (2L, "b", -0.5)))
  }

  test("unsupported format is rejected at construction") {
    intercept[IllegalArgumentException] {
      Catalog(spark, tmpDir("bad"), "avro")
    }
  }
}
