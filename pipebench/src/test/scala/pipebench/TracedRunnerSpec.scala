package pipebench

import graft.runtime.Runner

/** The traced replay must leave the warehouse exactly as `Runner` does,
  * so per-layer numbers describe the same work the untraced runs time.
  */
class TracedRunnerSpec extends SparkSpec {
  test("traced replay and Runner.runNext leave identical table hashes") {
    val input = tmpDir("replay-input")
    val gen = new Gen(5, countries = 30, rowsPerDay = 120)
    val days = gen.writeDays(input, 3).map(_._1)

    val plain = Warehouse.seeded(spark, tmpDir("replay-plain"), gen)
    val plainRunner = Runner(plain, input.toString)
    days.foreach(_ => plainRunner.runNext(Warehouse.Clock))

    val traced = Warehouse.seeded(spark, tmpDir("replay-traced"), gen)
    val tracedRunner = Runner(traced, input.toString)
    val tr = new Trace(spark)
    val seen = days.map(d => TracedRunner.runNext(tr, traced, tracedRunner, d.date.toString))
    val spans = tr.finish()

    assert(seen == days.map(_.date))
    assert(tracedRunner.cursor == plainRunner.cursor)
    assert(Warehouse.contentHashes(traced) == Warehouse.contentHashes(plain))
    val layers = spans.filter(_.span.parent != 0).map(_.span.name).toSet
    assert(layers == Set("runner.cursor", "raw.ingest", "ods.run", "dds.run", "mart.run", "alerts.run"))
    assert(spans.filter(_.span.name == "ods.run").forall(_.counters.jobs > 0))
  }

  test("the bulk-loaded history matches the oracle") {
    val input = tmpDir("bulk-input")
    val gen = new Gen(9, countries = 30, rowsPerDay = 120)
    val days = gen.writeDays(input, 5).map(_._1)
    val rollup = new Rollup
    days.foreach(rollup.add(gen, _))
    val cat = Warehouse.seeded(spark, tmpDir("bulk-wh"), gen)
    Warehouse.bulkLoad(cat, input, days)
    assert(new Oracle(rollup, gen.populationRows()).check(cat, days.map(_.date)).isEmpty)
    assert(Runner(cat, input.toString).cursor == days.last.date.plusDays(1))
  }
}
