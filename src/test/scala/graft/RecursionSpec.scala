package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Recursion

class RecursionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("expand walks a chain to fixpoint") {
    val edges = Seq((1, 2), (2, 3), (3, 4)).toDF("src", "dst")
    val anchor = Seq(1).toDF("node").withColumn("depth", lit(1))
    val out = Recursion.expand(anchor, fr =>
      edges.join(fr, col("src") === col("node"))
        .select(col("dst").as("node"), (col("depth") + 1).as("depth")))
    val rows = out.orderBy("node").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq == Seq((1, 1), (2, 2), (3, 3), (4, 4)))
  }

  test("expand respects checkpoint interval (deep chain)") {
    val edges = (1 until 20).map(i => (i, i + 1)).toDF("src", "dst")
    val anchor = Seq(1).toDF("node")
    val out = Recursion.expand(anchor, fr =>
      edges.join(fr, col("src") === col("node")).select(col("dst").as("node")),
      maxDepth = 64, checkpointInterval = 4)
    assert(out.count() == 20)
  }

  test("expand throws on cycles at maxDepth") {
    val edges = Seq((1, 2), (2, 1)).toDF("src", "dst")
    val anchor = Seq(1).toDF("node")
    assertThrows[IllegalStateException] {
      Recursion.expand(anchor, fr =>
        edges.join(fr, col("src") === col("node")).select(col("dst").as("node")),
        maxDepth = 10).count()
    }
  }

  test("h5 refuses an anchor over its fixed-dims size contract, naming it") {
    val dir = java.nio.file.Files.createTempDirectory("h5_anchor").toString
    Seq((0L, "R0")).toDF("r_regionkey", "r_name")
      .write.parquet(s"$dir/region.parquet")
    // 40 nations: ROOT + 1 region + 40 nations = 42 anchor rows > 31
    (0L until 40L).map(i => (i, s"N$i", 0L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("h5_reporting_dim_sql")(spark, dir)
    }
    assert(e.getMessage.contains(
      s"more than ${graft.queries.SqlQueries.H5AnchorLimit} rows") &&
      e.getMessage.contains("fixed-dims contract"), e.getMessage)
  }
}
