package graft

import graft.functions.GraftFunctions

/** The graft_* install: the shared session is built with the same
  * session extension as every graft main, so the whole
  * [[GraftFunctions.all]] table resolves with no per-operator setup.
  */
class GraftFunctionsSpec extends SparkSpec {

  test("every function in GraftFunctions.all resolves on the session, and no other graft_ function exists") {
    val names = GraftFunctions.all.map(_._1.funcName)
    assert(names.distinct.size == names.size, names)
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    val listed = spark.sql("SHOW FUNCTIONS LIKE 'graft_*'")
      .collect().map(_.getString(0)).toSet
    assert(listed == names.toSet)
  }

  test("a wrong-arity call fails at analysis with a message naming the function") {
    Seq(
      "graft_dot" -> "graft_dot(array(1f))",
      "graft_md5u32" -> "graft_md5u32('a', 'b')",
      "graft_bloom_agg" -> "graft_bloom_agg(1L, 2L, 3L, 4L)",
      "graft_firstmatch" -> "graft_firstmatch(array(1L), array(1L), 3)"
    ).foreach { case (fn, call) =>
      // spark.sql analyzes eagerly: the error comes before any execution
      val e = intercept[Exception](spark.sql(s"SELECT $call"))
      assert(e.getMessage.contains(fn), e.getMessage)
    }
  }

  test("DESCRIBE FUNCTION shows the @ExpressionDescription usage") {
    val text = spark.sql("DESCRIBE FUNCTION graft_dot")
      .collect().map(_.getString(0)).mkString("\n")
    assert(text.contains(
      "Usage: graft_dot(a, b) - dot product of two ARRAY<FLOAT> columns as DOUBLE."), text)
  }
}
