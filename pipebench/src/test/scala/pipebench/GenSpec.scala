package pipebench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.col
import graft.ops.CountryMap

class GenSpec extends SparkSpec {
  private def generate(seed: Long, dir: Path): Seq[(String, Array[Byte])] = {
    new Gen(seed, countries = 40, rowsPerDay = 200).writeDays(dir, 4)
    Files.list(dir).toArray.map(_.asInstanceOf[Path]).sortBy(_.getFileName.toString).toSeq
      .map(p => p.getFileName.toString -> Files.readAllBytes(p))
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    val a = generate(7, Files.createTempDirectory("gen-a"))
    val b = generate(7, Files.createTempDirectory("gen-b"))
    val c = generate(8, Files.createTempDirectory("gen-c"))
    assert(a.map(_._1) == b.map(_._1))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x._2, y._2) })
    assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x._2, y._2) })
  }

  test("inputs carry every alias, the header eras, nulls and one correction") {
    val gen = new Gen(3, countries = 40, rowsPerDay = 200)
    val days = gen.writeDays(Files.createTempDirectory("gen-d"), 3).map(_._1)
    assert(Gen.JhuAliases.forall(gen.countryNames.contains))
    val headers = days.map(d => gen.csv(d).takeWhile(_ != '\n'))
    assert(headers(0).startsWith("Province/State,") && !headers(0).contains("Latitude"))
    assert(headers(1).endsWith(",Latitude,Longitude"))
    assert(headers(2).split(",").length == 14)
    assert(days.exists(_.rows.exists(_.confirmed.isEmpty)))
    assert(days.exists(_.rows.exists(_.recovered.isEmpty)))
    // the correction day's country total drops below the day before
    val rollup = new Rollup
    days.foreach(rollup.add(gen, _))
    def total(d: Int) = rollup.byKey(Rollup.Key(days(d).date, gen.normalized(gen.correctionCountry))).confirmed
    assert(total(Gen.CorrectionDay) < total(Gen.CorrectionDay - 1))
  }

  test("the benchmark's alias table is what the program's CountryMap does") {
    import spark.implicits._
    val got = Gen.Aliases.map(_._1).toDF("c").select(CountryMap.normalize(col("c")))
      .as[String].collect().toSeq
    assert(got == Gen.Aliases.map(_._2))
  }
}
