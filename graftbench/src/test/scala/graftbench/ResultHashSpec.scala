package graftbench

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class ResultHashSpec extends AnyFunSuite {

  private val rows = Seq(Row(1L, "a", 2.5), Row(2L, "b", null), Row(3L, null, -0.125))

  test("the digest ignores row order") {
    assert(ResultHash.of(rows) == ResultHash.of(rows.reverse))
    assert(ResultHash.of(rows) == ResultHash.of(Seq(rows(1), rows(2), rows(0))))
  }

  test("the digest is a multiset: duplicates and missing rows change it") {
    assert(ResultHash.of(rows) != ResultHash.of(rows :+ rows.head))
    assert(ResultHash.of(rows) != ResultHash.of(rows.tail))
    assert(ResultHash.of(rows).rows == 3)
  }

  test("equal values of different physical types hash alike") {
    val asLongs = Row(2L, 7L, 1.5, "x")
    val asOthers = Row(2, 7.toShort, new java.math.BigDecimal("1.500"), "x")
    val asFloats = Row(2.toByte, 7.0, 1.5f, "x")
    assert(ResultHash.rowHash(asLongs) == ResultHash.rowHash(asOthers))
    assert(ResultHash.rowHash(asLongs) == ResultHash.rowHash(asFloats))
    assert(ResultHash.canon(new java.math.BigDecimal("100")) == "100")
    assert(ResultHash.canon(1e20) == "100000000000000000000")
  }

  test("date and time values hash by the instant or day they denote") {
    val ts = Timestamp.valueOf("2024-06-01 12:34:56.789")
    assert(ResultHash.canon(ts) == ResultHash.canon(ts.toInstant))
    assert(ResultHash.canon(Instant.ofEpochSecond(1, 5000)) == "ts1000005")
    assert(ResultHash.canon(Date.valueOf("1970-01-03")) == ResultHash.canon(LocalDate.ofEpochDay(2)))
  }

  test("different values, positions and types of value differ") {
    assert(ResultHash.rowHash(Row(1L, 2L)) != ResultHash.rowHash(Row(2L, 1L)))
    assert(ResultHash.rowHash(Row(null, 1L)) != ResultHash.rowHash(Row(1L, null)))
    assert(ResultHash.rowHash(Row("1")) != ResultHash.rowHash(Row(1L)))
    assert(ResultHash.rowHash(Row(0.1)) != ResultHash.rowHash(Row(0.1f)))
    assert(ResultHash.rowHash(Row("a,b", "c")) != ResultHash.rowHash(Row("a", "b,c")))
  }

  test("nested values: arrays keep order, maps do not") {
    assert(ResultHash.canon(Seq(1, 2)) != ResultHash.canon(Seq(2, 1)))
    assert(ResultHash.canon(Seq(1, 2)) == ResultHash.canon(Array(1L, 2L)))
    assert(ResultHash.canon(Map("a" -> 1, "b" -> 2)) == ResultHash.canon(Map("b" -> 2, "a" -> 1)))
    assert(ResultHash.canon(Row(1, Seq(Row("x")))) == "(1,[(\"x\")])")
  }
}
