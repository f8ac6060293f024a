package graft

import graft.functions.ZOrderKey
import graft.ops.Layout
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  test("bit contract: result bit (i*n + c) = bit i of child c") {
    // x = 0b11 occupies even bits, y = 0b01 odd bits
    assert(ZOrderKey.interleave(Array(3L, 1L)) == 0x7L) // 0b111
    assert(ZOrderKey.interleave(Array(0L, 1L)) == 0x2L)
    assert(ZOrderKey.interleave(Array(1L, 0L)) == 0x1L)
    // 3 columns: 21 bits each, child 0 least-significant lane
    assert(ZOrderKey.interleave(Array(1L, 1L, 1L)) == 0x7L)
    assert(ZOrderKey.interleave(Array(0L, 0L, 2L)) == (1L << 5))
  }

  test("magic-mask fast path is bit-identical to the general loop") {
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    (0 until 2000).foreach { _ =>
      val (x, y) = (next() & 0xFFFFFFFFL, next() & 0xFFFFFFFFL)
      assert(ZOrderKey.interleave2(x, y) == ZOrderKey.interleave(Array(x, y)))
    }
    // low-bits truncation: high 32 bits of the inputs never matter for n=2
    assert(ZOrderKey.interleave2(-1L, 0L) ==
      ZOrderKey.interleave2(0xFFFFFFFFL, 0L))
  }

  test("expression: codegen == interpreted, null child -> null key") {
    val df = Seq((3L, Some(1L)), (7L, Some(7L)), (123456L, None))
      .toDF("x", "y")
    val out = df.select(col("x"), Layout.zorderKey(col("x"), col("y")).as("z"))
      .as[(Long, Option[Long])].collect().toMap
    assert(out(3L).contains(7L))
    assert(out(7L).contains(ZOrderKey.interleave2(7L, 7L)))
    assert(out(123456L).isEmpty)
    // interpreted path (eval through a filter that codegen can't fuse is
    // overkill; call eval directly)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.LongType
    val expr = graft.functions.ZOrderKeyExpr(
      Seq(BoundReference(0, LongType, nullable = false), Literal(5L)))
    assert(expr.eval(InternalRow(9L)) == ZOrderKey.interleave2(9L, 5L))
  }

  test("z-order layout bounds EVERY dimension's extent per file; a plain " +
    "x-sort leaves y unpruned") {
    val grid = for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong)
    val df = spark.createDataset(grid.toVector).toDF("x", "y").repartition(8)
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString

    Layout.clusterByZOrder(df, Seq("x", "y"), numFiles = 16)
      .write.mode("overwrite").parquet(s"$dir/z")
    val zExt = Layout.fileExtents(spark.read.parquet(s"$dir/z"), Seq("x", "y"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(zExt.length == 16)
    // 1024 points / 16 files = one aligned 8x8 Z-block each
    zExt.foreach { case (_, rows, xmin, xmax, ymin, ymax) =>
      assert(rows == 64)
      assert(xmax - xmin <= 7, s"x extent ${xmax - xmin}")
      assert(ymax - ymin <= 7, s"y extent ${ymax - ymin}")
    }

    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$dir/x")
    val xExt = Layout.fileExtents(spark.read.parquet(s"$dir/x"), Seq("x", "y"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
    // every x-sorted file spans the FULL y domain — no y-pruning possible
    assert(xExt.forall { case (_, _, _, _, ymin, ymax) => ymax - ymin == 31 })
  }
}
