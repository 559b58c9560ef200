package graft

/** Every `SparkEntry.queries` frame must ANALYZE against sf0.001.
  *
  * Round 6 lesson: 12 oracle queries threw `DATATYPE_MISMATCH` at analysis
  * after the driver regenerated `events.parquet` with a different physical
  * timestamp encoding, yet `sbt test` stayed 316/316 green because no spec
  * forced analysis of the exact frames `Verify` runs. This spec closes that
  * hole: building each DataFrame and forcing `queryExecution.analyzed`
  * catches type/resolution breakage loudly at test time, without paying for
  * execution. One test per query so a failure names its query.
  */
class EntryAnalysisSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"analyze $name") {
      // the XMark rows build from the reference corpus, like XmarkSpec
      if (name.startsWith("j_xmark_") && !graft.queries.JsoniqQueries.xmarkCorpusPresent)
        cancel("reference XMark corpus not present")
      val df = fn(spark, sfDir)
      assert(df.queryExecution.analyzed != null)
      assert(df.schema.fields.nonEmpty, s"$name produced an empty schema")
    }
  }

  test("flagship entry analyzes and returns rows") {
    assert(SparkEntry.entry(spark).limit(1).count() >= 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql keys without queries: $missing")
  }
}
