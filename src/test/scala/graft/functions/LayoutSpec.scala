package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zOrderKey interleaves bits (known Morton values)") {
    // morton(x, y) with x in even bit positions, y in odd:
    // (0,0)->0, (1,0)->1, (0,1)->2, (1,1)->3, (2,2)->12, (3,5)->39
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 2L), (3L, 5L))
      .toDF("x", "y")
    val got = df.select(
        Layout.zOrderKey(Seq(col("x"), col("y")), bits = 16).as("z"))
      .as[Long].collect().toSeq
    assert(got === Seq(0L, 1L, 2L, 3L, 12L, 39L))
  }

  test("zOrderKey rejects widths that overflow a long") {
    intercept[IllegalArgumentException] {
      Layout.zOrderKey(Seq(col("x"), col("y")), bits = 32)
    }
  }

  test("zOrderCluster: partitions cover disjoint key ranges with tight 2-d boxes") {
    val df = (for { x <- 0L until 64L; y <- 0L until 64L } yield (x, y))
      .toDF("x", "y")
    val clustered = Layout.zOrderCluster(df,
      Seq(col("x"), col("y")), bits = 8, numRanges = 8)
    val key = Layout.zOrderKey(Seq(col("x"), col("y")), bits = 8)
    // per-partition [min,max] of the key must not overlap across
    // partitions (range partitioning) — this is what makes per-file
    // min/max statistics disjoint and skippable
    val ranges = clustered.select(spark_partition_id().as("p"), key.as("z"),
        col("x"), col("y"))
      .groupBy("p")
      .agg(min("z").as("zlo"), max("z").as("zhi"),
        min("x").as("xlo"), max("x").as("xhi"),
        min("y").as("ylo"), max("y").as("yhi"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getAs[Long]("zlo"), r.getAs[Long]("zhi"),
        r.getAs[Long]("xlo"), r.getAs[Long]("xhi"),
        r.getAs[Long]("ylo"), r.getAs[Long]("yhi"), r.getAs[Long]("n")))
      .sortBy(_._1)
    assert(ranges.map(_._7).sum === 64L * 64L)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 < b._1) // z-ranges disjoint
      case _ =>
    }
    // locality: every partition's (x, y) bounding box is much smaller
    // than the full 64x64 domain (Z-curve ranges are unions of quadrants)
    ranges.foreach { r =>
      val area = (r._4 - r._3 + 1) * (r._6 - r._5 + 1)
      assert(area <= 64L * 64L / 2,
        s"partition box $r covers too much of the domain")
    }
  }

  test("hilbertKey: 2x2 hand values, 8x8 bijectivity, and every curve step is grid-adjacent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // bits=1 U-walk: (0,0)=0, (0,1)=1, (1,1)=2, (1,0)=3
    val tiny = Seq((0, 0), (0, 1), (1, 1), (1, 0)).toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbertKey(col("x"), col("y"), bits = 1).as("d"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    assert(tiny == Map((0, 0) -> 0L, (0, 1) -> 1L, (1, 1) -> 2L, (1, 0) -> 3L))
    // 8x8 grid: keys are a permutation of 0..63, and sorting by key
    // yields a walk where EVERY step moves to a Manhattan-adjacent cell
    // (the locality property Z-order's diagonal jumps lack)
    val grid = (for { x <- 0 until 8; y <- 0 until 8 } yield (x, y)).toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.hilbertKey(col("x"), col("y"), bits = 3).as("d"))
      .collect().map(r => (r.getLong(2), (r.getInt(0), r.getInt(1))))
      .sortBy(_._1)
    assert(grid.map(_._1).toSeq == (0L until 64L).toSeq, "keys must be 0..63 exactly")
    grid.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"curve step ($x1,$y1)->($x2,$y2) is not grid-adjacent")
    }
  }
}
