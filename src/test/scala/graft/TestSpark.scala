package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Graft read-path configs on). */
object TestSpark {
  lazy val spark: SparkSession = Graft.session("graft-test", 4)
  val Sf0001 = "/root/testdata/sf0.001"

  /** The heavy-corpus scale suites pin against this; centralizing the path
    * keeps every suite on the same corpus (ADVICE r14 #4). */
  val Sf01 = "/root/testdata/sf0.1"

  /** Shared scratch root for test fixtures, under the process's one
    * shutdown-cleaned root, so repeated suite runs don't accumulate
    * parquet trees in /tmp (ADVICE r14 #5). */
  lazy val scratch: java.nio.file.Path = Graft.scratchDir("test_")

  /** Run `f` on a fresh session of the shared SparkContext, built by
    * `build` (so only the extensions it adds apply), then restore the
    * shared session as default and active. */
  def withFreshSession[T](build: SparkSession.Builder => SparkSession.Builder)
                         (f: SparkSession => T): T = {
    val shared = spark // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = build(SparkSession.builder()).getOrCreate()
      assert(s ne shared, "builder must create a fresh session")
      f(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
