package graft

import org.apache.spark.sql.SparkSessionExtensions

/** The extensions class must inject cleanly, and a session built with it
  * must resolve every graft function in SQL without a `register` call
  * (full SQL behavior of each function is covered by the
  * VectorExpressions and StringExpressions specs). */
class GraftExtensionsSpec extends SparkSpec {
  test("GraftExtensions applies without error") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("injected builders construct working expressions") {
    // a new session's function registry comes from the builtins plus the
    // injected extensions only: a `register` on any other session of the
    // shared context does not reach it, and nothing here calls one
    val fresh = spark.newSession()
    val r = fresh.sql(
      """SELECT vec_dot(array(1d, 2d), array(3d, 4d)) AS d,
        |  vec_norm(array(3d, 4d)) AS n,
        |  merge_dot(array(1L, 3L), array(2d, 5d),
        |    array(3L, 4L), array(10d, 1d)) AS md,
        |  merge_dot_bounded(array(1L, 3L), array(0.6d, 0.8d),
        |    array(3L, 4L), array(0.8d, 0.6d), 0.5d) AS mdb,
        |  unaccent('café') AS u,
        |  jaro_winkler('abc', 'abc') AS jw,
        |  size(word_ngrams(array('a', 'b', 'c'), 2)) AS ng""".stripMargin)
      .head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getDouble(2) === 50.0)
    assert(r.getDouble(3) === 0.8 * 0.8)
    assert(r.getString(4) === "cafe")
    assert(r.getDouble(5) === 1.0)
    assert(r.getInt(6) === 2)
  }
}
