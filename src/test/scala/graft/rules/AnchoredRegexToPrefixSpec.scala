package graft.rules

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.{DataSource, DoNothingCache, FileTable}

class AnchoredRegexToPrefixSpec extends SparkSpec {

  test("literalForm classifies patterns") {
    assert(AnchoredRegexToPrefix.literalForm("^(?:abc)") === Some("abc"))
    assert(AnchoredRegexToPrefix.literalForm("^(?:abc.*)") === Some("abc"))
    // `$` also matches before a trailing \n — must stay on the regex path
    assert(AnchoredRegexToPrefix.literalForm("^(?:abc$)") === None)
    assert(AnchoredRegexToPrefix.literalForm("^(?:a.c)") === None)
    assert(AnchoredRegexToPrefix.literalForm("^(?:Customer#0*1)") === None)
    assert(AnchoredRegexToPrefix.literalForm("abc") === None)
    assert(AnchoredRegexToPrefix.literalForm("^(?:.*x)") === None)
  }

  private def ds(): DataSource = {
    val meta = suiteTempDir("graft_rule_meta")
    val d = new DataSource(spark, meta.toString, initialCache = new DoNothingCache)
    d.addTable(FileTable("customer", "/root/testdata/sf0.001/customer.parquet"))
    d
  }

  test("dialect LIKE with a literal prefix pushes StringStartsWith to parquet") {
    val df = ds().queryDF(
      "SELECT c_custkey FROM customer WHERE c_name LIKE 'Customer#00000001.*'")
    val plan = graft.tools.PlanInspect.formatted(df)
    assert(plan.contains("StringStartsWith"), plan)
    assert(df.count() === 10) // Customer#000000010 .. #000000019
  }

  test("rewrite preserves the regex dialect's semantics") {
    val source = ds()
    val rewritten = source.queryDF(
      "SELECT c_custkey FROM customer WHERE c_name LIKE 'Customer#00000001.*' ORDER BY c_custkey")
      .collect().map(_.getLong(0)).toSeq
    // ground truth via a pattern the rule cannot touch (regex metachars)
    val viaRegex = source.queryDF(
      "SELECT c_custkey FROM customer WHERE c_name LIKE 'Customer#0000000(1).*' ORDER BY c_custkey")
      .collect().map(_.getLong(0)).toSeq
    assert(rewritten === viaRegex)
  }

  test("metacharacter patterns are left on the regex path") {
    val df = ds().queryDF(
      "SELECT c_custkey FROM customer WHERE c_name LIKE 'Customer#0*1.*'")
    val plan = graft.tools.PlanInspect.formatted(df)
    assert(!plan.contains("StringStartsWith"))
    assert(plan.contains("RLIKE") || plan.contains("rlike"), plan)
  }
}
