package graft

/** Driver-contract invariants: every oracle refers to a declared query;
  * entry + every query executes at smoke scale with a sane schema. */
class ContractSpec extends SparkSpec {

  test("oracleSql keys ⊆ queries keys") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracles without query: $dangling")
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // the queries that read the reference's own TSDB database, by the
  // fixture path each reads: they run only where that path exists
  private val fixtureQueries = Map(
    "tsdb_q6_block" -> ReferenceFixture.Block,
    "tsdb_q9_db" -> ReferenceFixture.Db,
    "stream_q7_wal_tail" -> ReferenceFixture.Wal)

  test("every query runs at sf0.001 and yields columns") {
    assert(fixtureQueries.keySet.subsetOf(SparkEntry.queries.keySet))
    val runnable = SparkEntry.queries.toSeq.sortBy(_._1).filter {
      case (name, _) => fixtureQueries.get(name).forall(ReferenceFixture.present)
    }
    val failures = runnable.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, Sf0001)
        assert(df.columns.nonEmpty)
        // the driver compare sorts columns BY NAME — duplicates would
        // silently scramble the hash
        assert(df.columns.distinct.length == df.columns.length,
          s"duplicate column names: ${df.columns.mkString(",")}")
        df.count() // force full execution
        None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
