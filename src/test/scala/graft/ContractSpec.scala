package graft

/** Driver-contract consistency: every oracle has a query, each query has
  * at most one oracle, generated oracles do not depend on run order, and
  * every query is callable at smoke scale.
  */
class ContractSpec extends SparkSpec {

  test("every oracleSql key has a queries entry") {
    val orphans = (SparkEntry.oracleSql.keySet ++ SparkEntry.generatedOracleSql.keySet) --
      SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("no query has both a static and a generated oracle") {
    val both = SparkEntry.oracleSql.keySet & SparkEntry.generatedOracleSql.keySet
    assert(both.isEmpty, s"two oracle definitions: $both")
  }

  test("a generated oracle renders the same before and after its query runs") {
    val (cold, warm) = onColdCopy("/root/testdata/sf0.001") { dir =>
      val names = SparkEntry.generatedOracleSql.keys.toSeq.sorted
      def render() = names.map(n => n -> SparkEntry.generatedOracleSql(n)(spark, dir)).toMap
      val cold = render() // before any query ran on the copy
      names.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
      (cold, render())
    }
    val changed = cold.keys.filter(n => cold(n) != warm(n))
    assert(changed.isEmpty, s"oracle text changed once the query ran: $changed")
  }

  test("every query plans (analysis passes) at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      assert(df.schema.fields.nonEmpty, s"$name produced an empty schema")
    }
  }

  test("entry returns rows at sf0.001 (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** The integer-division exactness contract: ~7 queries (hourlyCentsLong
    * and the seasonal/trend family) pair Spark `div` — which truncates
    * toward zero — with DuckDB `//` — which floors. The two agree ONLY on
    * non-negative operands, so the whole cents/micro-unit discipline
    * rests on `events.value >= 0`. Pin the domain at every fixture scale
    * the oracles run at (FIXTURES.md records the same contract): a
    * regenerated fixture with negative values must fail HERE, by name,
    * not as an off-by-one hash mismatch in a trend query.
    */
  test("events.value is non-negative at every oracle scale (div vs // contract)") {
    import org.apache.spark.sql.functions.{col, min}
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val lo = graft.sources.Events.read(spark, s"/root/testdata/$sf/events.parquet")
        .agg(min(col("value"))).head().getDouble(0)
      assert(lo >= 0.0,
        s"$sf events.value min=$lo < 0 — Spark div (truncate) and DuckDB // " +
          "(floor) diverge on negative operands; the cents quantization " +
          "in hourlyCentsLong and the seasonal/trend oracles is no longer exact")
    }
  }
}
