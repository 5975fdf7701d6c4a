package graft.tools

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** ScaleProbe's `<factor> <mode>` check, with no SparkSession: a bad
  * argument must fail before `main` builds a session, with a message that
  * names the modes.
  */
class ScaleProbeArgsSpec extends AnyFunSuite {

  private val modes = Seq("datadom2", "datadom3", "datadom4", "datadom6",
    "datadom6lex")

  private def rejected(args: String*): IllegalArgumentException = {
    val e = intercept[IllegalArgumentException](ScaleProbe.main(args.toArray))
    modes.foreach(m => assert(e.getMessage.contains(m), e.getMessage))
    e
  }

  test("parseArgs accepts <factor> <mode> for each of the five modes") {
    modes.foreach(m => assert(ScaleProbe.parseArgs(Array("3", m)) == (3, m)))
  }

  test("main rejects a removed mode, an unknown mode and a bad factor before building a session") {
    val before = SparkSession.getDefaultSession
    assert(rejected("1", "unified").getMessage.contains("unknown mode 'unified'"))
    assert(rejected("1", "nosuchmode").getMessage.contains("unknown mode 'nosuchmode'"))
    assert(rejected("ten", "datadom2").getMessage.contains("factor 'ten'"))
    assert(rejected("0", "datadom2").getMessage.contains("factor '0'"))
    assert(rejected("datadom2").getMessage.contains("expected 2 arguments"))
    assert(SparkSession.getDefaultSession == before,
      "a rejected argument built or stopped a SparkSession")
  }
}
