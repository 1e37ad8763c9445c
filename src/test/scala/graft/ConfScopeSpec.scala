package graft

/** The catalog's one conf scope leaves the session as it found it. */
class ConfScopeSpec extends SparkSpec {

  private val SetKey = "graft.test.scope.set"
  private val UnsetKey = "graft.test.scope.unset"

  private def scoped(body: => Unit): Unit = {
    Queries.withConf(spark, SetKey -> "inner", UnsetKey -> "inner") {
      assert(spark.conf.get(SetKey) == "inner")
      assert(spark.conf.get(UnsetKey) == "inner")
      body
    }
  }

  test("withConf restores a set key and unsets an unset key, on return and on throw") {
    spark.conf.set(SetKey, "outer")
    spark.conf.unset(UnsetKey)
    try {
      scoped(())
      assert(spark.conf.getOption(SetKey) == Some("outer"))
      assert(spark.conf.getOption(UnsetKey).isEmpty)

      intercept[IllegalStateException](scoped(throw new IllegalStateException))
      assert(spark.conf.getOption(SetKey) == Some("outer"))
      assert(spark.conf.getOption(UnsetKey).isEmpty)
    } finally spark.conf.unset(SetKey)
  }

  test("catalog entries leave the session conf as they found it") {
    val keys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "spark.sql.streaming.join.stateFormatVersion")
    def snapshot = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val before = snapshot
    Seq("q_profile_table", "q_asof_stream").foreach { q =>
      assert(Queries.all(q)(spark, "/root/testdata/sf0.001").count() > 0, q)
      assert(snapshot == before, s"$q changed the session conf")
    }
  }

  test("a shared frame first built inside a scope keeps the session's " +
      "partition count") {
    val dir = "/root/testdata/sf0.001"
    assert(spark.sessionState.conf.numShufflePartitions == 4)
    Queries.clearCaches()
    Queries.withConf(spark, Queries.SmallPin: _*)(Queries.events(spark, dir))
    assert(Queries.events(spark, dir).rdd.getNumPartitions == 4)
  }
}
