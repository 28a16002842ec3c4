package graft

import org.apache.spark.sql.functions._

import graft.sources.Layout

class LayoutSpec extends SparkSpec {

  import spark.implicits._

  test("morton2 is injective on in-range pairs and interleaves bits") {
    val pairs = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val df = pairs.toDF("x", "y")
      .withColumn("z", Layout.morton2(col("x"), col("y"), bits = 8))
    val zs = df.select("z").as[Long].collect()
    assert(zs.length == 1024 && zs.distinct.length == 1024)
    // hand-checked interleave: (x=0b11, y=0b01) → 0b0111 = 7
    val one = Seq((3L, 1L)).toDF("x", "y")
      .select(Layout.morton2(col("x"), col("y"), 8)).as[Long].head()
    assert(one == 7L)
  }

  test("z-order tiles bound BOTH dimensions; a single-column sort " +
    "leaves the other dimension unbounded") {
    // uniform 64×64 grid
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y))
      .toDF("x", "y")
    val z = Layout.tileStats(grid, "x", "y", bits = 8, tileBits = 8)
      .agg(avg("x_span").as("xs"), avg("y_span").as("ys")).head()
    // tiles of 2^8 z-values = 16×16 blocks → spans ≤ 15 on both axes
    assert(z.getAs[Double]("xs") <= 15.0, z.toString)
    assert(z.getAs[Double]("ys") <= 15.0, z.toString)
    // same file-size budget, sorted by x only: 4 rows of x per "file",
    // but every file spans the full y range
    val xsorted = grid.withColumn("tile", floor(col("x") / 4))
      .groupBy("tile")
      .agg((max("y") - min("y")).as("y_span"))
      .agg(avg("y_span")).head().getDouble(0)
    assert(xsorted == 63.0)
  }

  test("zone-mapped read prunes files and equals the full-scan filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_t")
      .toString + "/t"
    val df = spark.range(0, 10000).toDF("k")
      .withColumn("payload", col("k") * 3)
    Layout.writeZoneMapped(df, dir, "k", nBuckets = 10)
    val total = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(total >= 10)
    val admitted = Layout.overlappingFiles(spark, dir, 2000L, 2999L)
    // a 10% range over a range-bucketed layout touches ~1-2 of 10 files
    assert(admitted.nonEmpty && admitted.size <= 3,
      s"${admitted.size} of $total files admitted")
    val pruned = Layout.prunedRead(spark, dir, "k", 2000L, 2999L)
    val full = df.filter(col("k").between(2000, 2999))
    assert(pruned.count() == 1000)
    assert(pruned.agg(sum("payload")).head().getLong(0) ==
      full.agg(sum("payload")).head().getLong(0))
    // empty range → zero files, empty frame, schema intact
    val none = Layout.prunedRead(spark, dir, "k", 50000L, 60000L)
    assert(none.count() == 0 && none.columns.contains("payload"))
  }
}
