package graft

import graft.core.GraftSession

/** `GraftSession` is the one session configuration: the suite must run
  * it, `SPARK_GRAFT_EXTRA_CONF` must parse without crashing on empty
  * entries, and the benchmark harness (which builds its own session,
  * `perfbench/harness/.../Main.scala`) must measure the same confs. */
class GraftSessionSpec extends SparkSpec {

  test("the suite's session runs the shipped configuration") {
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules).map(_.ruleName)
    assert(rules.contains(graft.plans.TokenFilterStrengthen.ruleName), rules)
    assert(rules.contains(graft.plans.UnionAggToGroupingSets.ruleName), rules)
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "262144")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
    GraftSession.confs(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, s"$k")
    }
    assert(spark.sparkContext.master == "local[4, 2]")
  }

  test("SPARK_GRAFT_EXTRA_CONF parser skips empty entries and names a bad one") {
    import GraftSession.parseExtraConf
    assert(parseExtraConf("") == Nil)
    assert(parseExtraConf(";") == Nil)
    assert(parseExtraConf("a=b") == Seq("a" -> "b"))
    assert(parseExtraConf("a=b;;c=d;") == Seq("a" -> "b", "c" -> "d"))
    // only the first '=' splits: values may contain '='
    assert(parseExtraConf("k=x=y;e=") == Seq("k" -> "x=y", "e" -> ""))
    Seq("a=b;junk" -> "'junk'", "=v" -> "'=v'").foreach { case (in, named) =>
      val e = intercept[IllegalArgumentException](parseExtraConf(in))
      assert(e.getMessage.contains(named), e.getMessage)
    }
  }

  test("the benchmark harness session carries exactly the shipped confs") {
    val f = new java.io.File("perfbench/harness/src/main/scala/perfbench/Main.scala")
    assert(f.isFile, s"missing ${f.getAbsolutePath}")
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val shipped = GraftSession.confs(4).toMap
    val literal = """\.config\(\s*"([^"]+)"\s*,\s*"([^"]*)"\s*\)""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSeq
    assert(literal.size >= shipped.size - 1, s"too few literal confs: $literal")
    literal.foreach { case (k, v) =>
      assert(shipped.get(k).contains(v), s"harness sets $k=$v, factory ships ${shipped.get(k)}")
    }
    shipped.keys.foreach { k =>
      assert(text.contains(s""".config("$k""""), s"harness does not set $k")
    }
  }
}
