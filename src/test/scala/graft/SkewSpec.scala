package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

class SkewSpec extends SparkSpec {

  import spark.implicits._

  test("saltedAgg equals the direct aggregation") {
    val df = spark.range(0, 10000).toDF("id")
      // heavy skew: 80% of rows share one key
      .withColumn("k", when(col("id") % 5 < 4, "hot").otherwise(
        concat(lit("cold"), col("id") % 7)))
      .withColumn("v", col("id").cast("double"))
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("total"))
      .orderBy("k").collect()
    val salted = Skew.saltedAgg(df, Seq("k"), col("id"), 16,
        partialAggs = Seq(count(lit(1)).as("pc"), sum("v").as("pv")),
        finalAggs = Seq(sum("pc").cast("long").as("n"),
          sum("pv").as("total")))
      .orderBy("k").collect()
    assert(direct.map(_.getString(0)).toSeq ==
      salted.map(_.getString(0)).toSeq)
    direct.zip(salted).foreach { case (d, s) =>
      assert(d.getLong(1) == s.getLong(1))
      assert(math.abs(d.getDouble(2) - s.getDouble(2)) < 1e-6)
    }
  }

  test("saltedJoin equals the direct join") {
    val big = spark.range(0, 5000).toDF("id")
      .withColumn("k", when(col("id") % 10 < 9, 0L).otherwise(col("id") % 3))
    val dim = Seq((0L, "hot"), (1L, "a"), (2L, "b")).toDF("k", "label")
    val direct = big.join(dim, Seq("k")).groupBy("label")
      .agg(count(lit(1)).as("n")).orderBy("label").collect()
    val salted = Skew.saltedJoin(big, dim, "k", col("id"), 8)
      .groupBy("label").agg(count(lit(1)).as("n")).orderBy("label").collect()
    assert(direct.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      salted.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }
}
