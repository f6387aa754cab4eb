package graft

/** The shared test session is built by [[Graft.session]], so it carries the
  * production conf: shuffle partitions follow the master's parallelism and
  * the native-expression extension arrives through the session conf. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries the Graft.session conf") {
    val conf = spark.conf
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.extensions").split(",").map(_.trim)
      .contains("graft.GraftExtensions"))
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
