package pipebench

import java.nio.file.Paths
import graft.runtime.{Catalog, Runner}

/** The write workloads time one day on fresh copies of a start
  * warehouse; a copy must behave as the original and leave it untouched.
  */
class WarehouseSpec extends SparkSpec {
  test("a day run on two copies of a warehouse gives the same tables and leaves the original as it was") {
    val input = tmpDir("copy-input")
    val gen = new Gen(7, countries = 30, rowsPerDay = 120)
    gen.writeDays(input, 2)
    val start = Warehouse.seeded(spark, tmpDir("copy-start"), gen)
    Runner(start, input.toString).runNext(Warehouse.Clock)
    val before = Warehouse.contentHashes(start)

    val copies = (1 to 2).map { k =>
      val root = Paths.get(start.root).resolveSibling(s"${Paths.get(start.root).getFileName}-copy$k")
      Warehouse.copyTree(Paths.get(start.root), root)
      val cat = Catalog(spark, root.toString)
      assert(Runner(cat, input.toString).runNext(Warehouse.Clock) == Gen.Start.plusDays(1))
      cat
    }

    assert(Warehouse.contentHashes(copies(0)) == Warehouse.contentHashes(copies(1)))
    assert(Warehouse.contentHashes(copies(0)) != before)
    assert(Warehouse.contentHashes(start) == before)
    assert(Runner(start, input.toString).cursor == Gen.Start.plusDays(1))
  }
}
