package graft

/** Pins the settings every harness shares through [[GraftSession]], on the
  * test session built by it: a harness whose config drifted from the
  * others would fail here. */
class GraftSessionSpec extends SparkSuite {

  test("the test session carries the shared AQE sizing, UTC and nanosAsLong") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "1m")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "128k")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("parse_description resolves through the injected extensions") {
    // a new session starts from the injected function registry only, so
    // no earlier spec's GraftExtensions.register can satisfy this
    val row = spark.newSession()
      .sql("SELECT parse_description('v.3 no.2 (Oct 1998)') AS p")
      .select("p.enumA", "p.pattern").collect().head.toSeq
    assert(row == Seq("v.3", "StdMatch"))
  }

  test("shuffle partitions and the local master follow the core count") {
    val s = GraftSession.settings(7).toMap
    assert(s("spark.master") == "local[7]")
    assert(s("spark.sql.shuffle.partitions") == "7")
  }
}
