package graft

import graft.core.{GraftSession, IndexLayout}
import org.scalatest.funsuite.AnyFunSuite

/** A bad environment setting fails with a message that names it. */
class SettingsSpec extends AnyFunSuite {

  private val notPositive = Seq("abc", "0", "-3", "1.5", "")

  private def rejects(name: String, parse: Option[String] => Long,
      bad: Seq[String]): Unit = bad.foreach { raw =>
    val e = intercept[IllegalArgumentException](parse(Some(raw)))
    assert(e.getMessage.contains(name), e.getMessage)
    assert(e.getMessage.contains(s"'$raw'"), e.getMessage)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GraftSession.coresOr(None, 4) == 4)
    assert(GraftSession.coresOr(Some(" 8 "), 4) == 8)
    rejects("SPARK_GRAFT_CPUS", GraftSession.coresOr(_, 4).toLong,
      notPositive :+ "4294967296")
  }

  test("SPARK_GRAFT_MAX_RECORDS_PER_FILE must be a positive integer") {
    assert(IndexLayout.maxRecordsPerFile(None) == 8000000L)
    assert(IndexLayout.maxRecordsPerFile(Some("250000")) == 250000L)
    rejects("SPARK_GRAFT_MAX_RECORDS_PER_FILE", IndexLayout.maxRecordsPerFile,
      notPositive :+ "99999999999999999999")
  }
}
