package graft

/** Guards the driver contract in SparkEntry: the flagship entry emits
  * rows, every oracle key names a real query, and names follow the
  * catalog convention. (Full per-query correctness lives in
  * tools/check.py; this is the cheap local tripwire for contract
  * breakage — a renamed query or an orphaned oracle.)
  */
class ContractSpec extends SparkSpec {

  test("flagship entry emits transactions (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0, "entry must return rows")
    assert(df.columns.contains("transaction_hash"))
  }

  test("every oracle references an existing query; catalog is non-trivial") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    assert(SparkEntry.queries.size >= 76,
      s"catalog shrank to ${SparkEntry.queries.size} queries")
    assert(SparkEntry.oracleSql.size >= 72,
      s"oracled set shrank to ${SparkEntry.oracleSql.size}")
    assert(SparkEntry.queries.keySet.forall(_.startsWith("q_")))
  }

  test("one Entry per name: the driver maps and the stream list derive from it") {
    val names = Queries.entries.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate entry names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
    assert(Queries.streamingEntries.toSet ==
      Queries.entries.filter(_.stream).map(_.name).toSet)
    assert(Queries.streamingEntries.size == 15)
    val noOracle = Queries.entries.filter(_.oracle.trim.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"entries with an empty oracle: $noOracle")
  }
}
