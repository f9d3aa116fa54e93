package graft

/** `ConfScope.par2`: arm `b` runs on its own thread with the caller's
  * Spark local properties as of the call, and a failing arm surfaces
  * its own throwable, not a `CompletionException` wrapper. */
class ConfScopeSpec extends SparkSpec {

  test("par2 rethrows the failing arm's original exception") {
    val eb = intercept[IllegalStateException] {
      ConfScope.par2(spark)(1, throw new IllegalStateException("arm b"))
    }
    assert(eb.getMessage == "arm b")
    val ea = intercept[IllegalArgumentException] {
      ConfScope.par2(spark)(throw new IllegalArgumentException("arm a"), 2)
    }
    assert(ea.getMessage == "arm a")
    assert(ConfScope.par2(spark)(1, "two") == ((1, "two")))
  }

  test("par2 runs arm b on another thread carrying the caller's local " +
      "properties as of each call") {
    val sc = spark.sparkContext
    val key = "graft.par2.probe"
    val caller = Thread.currentThread()
    try {
      Seq("first", "second").foreach { v =>
        sc.setLocalProperty(key, v)
        val (_, (seen, thread)) = ConfScope.par2(spark)((),
          (sc.getLocalProperty(key), Thread.currentThread()))
        assert(seen == v)
        assert(thread ne caller)
      }
    } finally sc.setLocalProperty(key, null)
  }
}
