package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.f1.Fixtures

class InflateRawSpec extends SparkSpec {
  import spark.implicits._

  test("round-trips base64(raw-deflate(json)) back to the original text") {
    val json = """{"Entries": [{"Utc": "2025-05-17T14:00:01.100Z"}]}"""
    val b64 = Fixtures.deflateB64(json)
    val out = Seq(b64).toDF("p")
      .select(Coercions.inflateZ(col("p")).as("t"))
      .collect().head.getString(0)
    assert(out == json)
  }

  test("corrupt input → null, not an exception") {
    val out = Seq("AAAA", "!!notbase64!!").toDF("p")
      .select(Coercions.inflateZ(col("p")).as("t"))
      .collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("callable from SQL after registration") {
    Registry.registerOnce(spark)
    val b64 = Fixtures.deflateB64("hello")
    val out = spark.sql(s"SELECT decode(inflate_raw(unbase64('$b64')), 'UTF-8') AS t")
      .collect().head.getString(0)
    assert(out == "hello")
  }

  test("survives whole-stage codegen over many rows") {
    val n = 1000
    val df = (0 until n).map(i => Fixtures.deflateB64(s"""{"i": $i}""")).toDF("p")
    val decoded = df.select(Coercions.inflateZ(col("p")).as("t"))
      .where(col("t").isNotNull)
    assert(decoded.count() == n)
  }
}
