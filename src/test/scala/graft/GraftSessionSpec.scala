package graft

/** The one session builder: the `SPARK_GRAFT_CPUS` parser (parser only —
  * no session is started at an invalid or large core count) and the conf
  * the shared test session carries.
  */
class GraftSessionSpec extends SparkTestBase {

  test("SPARK_GRAFT_CPUS: a positive integer parses") {
    assert(GraftSession.parseCpus("4") == 4)
  }

  test("SPARK_GRAFT_CPUS: anything else fails naming the variable") {
    Seq("", "0", "-2", "abc", "*").foreach { raw =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(raw))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s"'$raw': $e")
    }
  }

  test("the test session carries the builder's conf") {
    val conf = SparkTestBase.session.conf
    assert(SparkTestBase.session.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.ui.enabled") == "false")
  }
}
