package graft

/** The one engine session: the suite's session carries every conf of
  * [[GraftSession.confs]], the confs name each key once, and the core
  * count from the environment is validated before any session starts. */
class GraftSessionSpec extends SparkSpec {

  private val shipped =
    GraftSession.confs(GraftSession.hostCores, TempDirs.sparkLocalDir())

  test("the suite's session carries every pair of GraftSession.confs") {
    shipped.foreach { case (k, v) =>
      // runtime SQL confs read from the session, static ones from the
      // context the session was started with
      val got =
        if (spark.conf.isModifiable(k)) spark.conf.getOption(k)
        else spark.sparkContext.getConf.getOption(k)
      assert(got.contains(v), s"$k: expected $v, got $got")
    }
  }

  test("no conf key appears twice") {
    val keys = shipped.map(_._1)
    assert(keys.diff(keys.distinct).isEmpty)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer, named when it is not") {
    assert(GraftSession.parseCores(Some("6")) == 6)
    assert(GraftSession.parseCores(None) ==
      Runtime.getRuntime.availableProcessors)
    Seq("", "0", "-2", "four", "2.5", "4 cores").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCores(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
