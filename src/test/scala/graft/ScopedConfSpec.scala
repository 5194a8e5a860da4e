package graft

/** `Session.withConfs` is how a replay or an aggregate raises a session
  * conf for its own plan only. A shared session must come back exactly
  * as it was — an unset key unset, a set key at its old value — also
  * when the body throws, or one failed key would change the plans of
  * every key after it.
  */
class ScopedConfSpec extends SparkSpec {
  private val unsetKey = "graft.test.scoped.unset"
  private val setKey = "graft.test.scoped.set"

  private def scoped(body: => Unit): Unit =
    Session.withConfs(spark, unsetKey -> "inside", setKey -> "inside") {
      assert(spark.conf.getOption(unsetKey).contains("inside"))
      assert(spark.conf.getOption(setKey).contains("inside"))
      body
    }

  private def assertRestored(): Unit = {
    assert(spark.conf.getOption(unsetKey).isEmpty,
      s"$unsetKey was unset before the scope and is now set")
    assert(spark.conf.getOption(setKey).contains("before"),
      s"$setKey did not get its prior value back: ${spark.conf.getOption(setKey)}")
  }

  test("withConfs restores a set key and leaves an unset key unset") {
    spark.conf.unset(unsetKey)
    spark.conf.set(setKey, "before")
    try {
      scoped(())
      assertRestored()
    } finally spark.conf.unset(setKey)
  }

  test("withConfs restores both keys when the body throws") {
    spark.conf.unset(unsetKey)
    spark.conf.set(setKey, "before")
    try {
      val e = intercept[IllegalStateException] {
        scoped(throw new IllegalStateException("body failed"))
      }
      assert(e.getMessage == "body failed")
      assertRestored()
    } finally spark.conf.unset(setKey)
  }
}
