package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One seeded adjacency-list tree. Level sizes are fixed by the shape;
  * the seed decides which parent each child hangs under, so trees of
  * one shape have the same node and closure counts on every seed while
  * their structure (fan-out per parent, DFS order, leaf sets) changes.
  * Every internal node gets at least one child, so all leaves sit at
  * the deepest level.
  *
  * Node ids are assigned level by level and, within a level, grouped
  * by parent: the children of one parent are consecutive ids, so the
  * sibling sort key (the natural key, equal to the id) is the
  * generation order.
  */
final case class Tree(name: String, shape: Seq[Int], parent: Array[Long], depth: Array[Int]) {
  def size: Int = parent.length
  def levels: Int = shape.length
  /** Rows of the reporting dimension, closed form: one per node. */
  def dimRows: Long = shape.map(_.toLong).sum
  /** Rows of the closure dimension, closed form: one per (ancestor,
    * descendant) pair including self-pairs, i.e. Σ depth × level size. */
  def closureRows: Long = shape.zipWithIndex.map { case (n, d) => n.toLong * (d + 1) }.sum

  /** Generator self-check: the node arrays match the closed forms. */
  def selfCheck(): Option[String] =
    if (size != dimRows) Some(s"$name: generated $size nodes, shape gives $dimRows")
    else if (depth.iterator.map(_.toLong).sum != closureRows)
      Some(s"$name: generated depths sum to ${depth.iterator.map(_.toLong).sum}, shape gives $closureRows")
    else None
  /** Leaves are the deepest level, which holds the highest ids. */
  def leafCount: Int = depth.count(_ == levels)
  def firstLeaf: Long = (size - leafCount).toLong

  /** Expected `node_sort_order` (1-based preorder, siblings by key). */
  def preorder: Array[Long] = {
    val children = Array.fill(size)(List.empty[Int])
    for (i <- (size - 1) to 1 by -1) {
      val p = parent(i).toInt
      children(p) = i :: children(p)
    }
    val order = new Array[Long](size)
    var next = 1L
    val stack = scala.collection.mutable.Stack(0)
    while (stack.nonEmpty) {
      val n = stack.pop()
      order(n) = next
      next += 1
      children(n).reverseIterator.foreach(stack.push)
    }
    order
  }

  def nodes(spark: SparkSession): DataFrame = {
    val rows = (0 until size).map { i =>
      Row(i.toLong, i.toLong, s"$name node $i", s"$name level ${depth(i)}",
        if (parent(i) < 0) null else parent(i))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Tree.schema)
  }

  def bytes: Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(name.length + 12 * size)
    buf.put(name.getBytes("UTF-8"))
    for (i <- 0 until size) { buf.putLong(parent(i)); buf.putInt(depth(i)) }
    buf.array
  }
}

object Tree {
  val schema: StructType = StructType(Seq(
    StructField("node_id", LongType, nullable = false),
    StructField("node_natural_key", LongType, nullable = false),
    StructField("node_name", StringType, nullable = false),
    StructField("level_name", StringType, nullable = false),
    StructField("parent_node_id", LongType, nullable = true)))

  /** Tree with `levelSizes(d)` nodes at depth d+1; `levelSizes(0)` = 1. */
  def generate(name: String, levelSizes: Seq[Int], rnd: java.util.Random): Tree = {
    require(levelSizes.head == 1 && levelSizes.sliding(2).forall {
      case Seq(a, b) => b >= a
      case _ => true
    }, s"level sizes must start at 1 and never shrink: $levelSizes")
    val parent = scala.collection.mutable.ArrayBuffer(-1L)
    val depth = scala.collection.mutable.ArrayBuffer(1)
    var levelStart = 0
    for ((n, d) <- levelSizes.zipWithIndex.tail) {
      val prev = levelSizes(d - 1)
      // one child per parent, the rest scattered at random
      val counts = Array.fill(prev)(1)
      for (_ <- 0 until n - prev) counts(rnd.nextInt(prev)) += 1
      for (p <- 0 until prev; _ <- 0 until counts(p)) {
        parent += (levelStart + p).toLong
        depth += d + 1
      }
      levelStart += prev
    }
    Tree(name, levelSizes, parent.toArray, depth.toArray)
  }

  /** Shallow and wide: depth 4, 24k leaves. */
  val Wide: Seq[Int] = Seq(1, 24, 600, 24000)
  /** Deep and narrow: depth 12, 135 leaves. */
  val Deep: Seq[Int] = Seq(1, 2, 3, 5, 8, 12, 18, 27, 40, 60, 90, 135)
}

/** Everything a workload run receives, derived from the seed alone. */
final case class Inputs(seed: Long, trees: Seq[Tree]) {

  /** Board query order for warm pass `pass` (1-based). */
  def boardOrder(names: Seq[String], pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  /** Facts: the `orders` rows, each assigned to a leaf of every tree
    * (column [[Inputs.factKey]]) by a seeded hash of its order key. */
  def facts(orders: DataFrame): DataFrame =
    orders.select(trees.map(t =>
      (lit(t.firstLeaf) + pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(t.leafCount.toLong)))
        .as(Inputs.factKey(t))) ++ Seq(col("o_custkey"), col("o_totalprice")): _*)

  def digest(boardNames: Seq[String], passes: Int): String = {
    val md = MessageDigest.getInstance("SHA-256")
    trees.foreach(t => md.update(t.bytes))
    (1 to passes).foreach(p =>
      md.update(boardOrder(boardNames, p).mkString(",").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

object Inputs {
  def factKey(t: Tree): String = s"fact_key_${t.name}"

  def apply(workload: String, seed: Long): Inputs = {
    val rnd = new java.util.Random(seed)
    val shapes =
      if (workload == "hier") Seq("wide" -> Tree.Wide, "deep" -> Tree.Deep) else Seq.empty
    Inputs(seed, shapes.map { case (n, s) => Tree.generate(n, s, rnd) })
  }
}
