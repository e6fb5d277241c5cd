package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SkewSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("saltedJoin returns exactly the plain join's rows") {
    import spark.implicits._
    val li = graft.Tables.lineitem(spark, sf)
      .withColumnRenamed("l_orderkey", "k")
    val o = graft.Tables.orders(spark, sf)
      .withColumnRenamed("o_orderkey", "k")
      .select($"k", $"o_totalprice")
    val plain = li.join(o, Seq("k"))
      .select($"k", $"l_linenumber", $"o_totalprice")
      .collect().map(_.toString).sorted.toSeq
    val salted = Salt.saltedJoin(li, o, "k", 8)
      .select($"k", $"l_linenumber", $"o_totalprice")
      .collect().map(_.toString).sorted.toSeq
    assert(salted == plain)
  }
}
