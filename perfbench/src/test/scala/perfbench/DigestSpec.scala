package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val schema = "k:bigint,v:double"
  private val rows = Seq(Row(1L, 0.1 + 0.2), Row(2L, null), Row(3L, Double.NaN))

  test("the same rows give the same digest on every call") {
    val d = Digest.of(schema, rows.iterator)
    assert((1 to 5).map(_ => Digest.of(schema, rows.iterator)).toSet == Set(d))
    assert(d.length == 64)
  }

  test("row order is part of the digest") {
    assert(Digest.of(schema, rows.iterator) != Digest.of(schema, rows.reverse.iterator))
  }

  test("the schema is part of the digest") {
    assert(Digest.of(schema, rows.iterator) != Digest.of("k:int,v:double", rows.iterator))
  }

  test("a last-ulp difference does not change the digest, a real one does") {
    val a = Digest.of(schema, Iterator(Row(1L, 0.3)))
    assert(Digest.of(schema, Iterator(Row(1L, 0.1 + 0.2))) == a)
    assert(Digest.of(schema, Iterator(Row(1L, 0.3000001))) != a)
  }

  test("map entries hash independently of their iteration order") {
    val m1 = scala.collection.immutable.ListMap("a" -> 1, "b" -> 2)
    val m2 = scala.collection.immutable.ListMap("b" -> 2, "a" -> 1)
    assert(Digest.render(m1) == Digest.render(m2))
  }

  test("nested rows and arrays render recursively") {
    assert(Digest.render(Row(Seq(1.5, 2.0), Row("x", null))) == "([1.5,2],(\"x\",null))")
  }
}
