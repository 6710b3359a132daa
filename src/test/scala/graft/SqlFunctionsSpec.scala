package graft

import graft.functions.TextFunctions

/** `TextFunctions.sqlFunctions` is the one function table behind both
  * `GraftExtensions` and `TextFunctions.register`; the two used to be
  * hand-written lists, and `register` had drifted three functions short
  * (`lenient_json`, `simhash64`, `simhash_text`). */
class SqlFunctionsSpec extends SparkSpec {

  private def resolves(s: org.apache.spark.sql.SparkSession, name: String): Boolean =
    scala.util.Try(s.sql(s"DESCRIBE FUNCTION $name").collect()).isSuccess

  test("register resolves every table function on a session without extensions") {
    val names = TextFunctions.sqlFunctions.map(_._1)
    assert(names.distinct.size == names.size)
    assert(Seq("lenient_json", "simhash64", "simhash_text").forall(names.contains))
    // a fresh session state carries the extension functions; drop them
    // so the probe below tells a registered name from an unknown one
    val s = spark.newSession()
    names.foreach(n => s.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(names.filter(resolves(s, _)).isEmpty)
    TextFunctions.register(s)
    assert(names.filterNot(resolves(s, _)).isEmpty)
    // the three that had drifted out of register, called end to end
    val r = s.sql("""SELECT lenient_json('{"a": 1}') IS NOT NULL AS j,
      simhash64(array('a', 'b')) = simhash64(array('a', 'b')) AS h,
      simhash_text('a b c') = simhash_text('a b c') AS t""").collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
  }
}
