package graft

/** The scaling-input builder refuses what would make its replicas overlap,
  * and answers a malformed command line with its usage, not a MatchError.
  */
class ScaleUpSpec extends SparkSpec {
  import spark.implicits._

  test("command line: three arguments, a positive replica count") {
    assert(ScaleUp.parse(Array("in", "out", "4")) == Some(("in", "out", 4)))
    Seq(Array[String](), Array("in", "out"), Array("in", "out", "x"),
      Array("in", "out", "0"), Array("in", "out", "4", "extra")).foreach { a =>
      assert(ScaleUp.parse(a).isEmpty, a.mkString("<", " ", ">"))
    }
  }

  test("a shifted key at or above the replica offset fails by name") {
    val ok = Seq((1L, 999999999L), (2L, 5L)).toDF("o_orderkey", "o_custkey")
    ScaleUp.requireBelowOff("orders", ok, Seq("o_orderkey", "o_custkey"))
    val bad = Seq((1L, 1000000000L)).toDF("o_orderkey", "o_custkey")
    val e = intercept[IllegalArgumentException](
      ScaleUp.requireBelowOff("orders", bad, Seq("o_orderkey", "o_custkey")))
    assert(e.getMessage.contains("orders.o_custkey reaches 1000000000"), e.getMessage)
  }
}
