package graft.graph

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** One partition's edges as node indices: `from(i) → to(i)` with weight
  * `w(i)`; `to(i) = -1` marks a null or unlisted dst. */
private[graft] final case class EdgeBlock(from: Array[Int], to: Array[Int], w: Array[Double])

/** One task's share of a round: at most one entry per key (a node index,
  * or a packed (node, label) pair for the label vote), in first-touch
  * order. */
private[graft] final case class Partial(keys: Array[Long], v: Array[Double])

/** The state of the graph loops [[Graph.pagerank]],
  * [[Graph.labelPropagation]] and [[Graph.hits]].
  *
  * The node spine is collected to the driver as sorted ids, and every node
  * vector is a dense array over them. The edge list is packed once per
  * call into one [[EdgeBlock]] per partition and persisted for the call's
  * rounds. A round is ONE Spark job: the vector ships as a broadcast, each
  * task folds its block into one [[Partial]] (map-side partial
  * aggregation: a hot node reaches the merge as at most one entry per
  * task, never as its raw in-degree), and the driver merges the partials
  * in partition order, so the float sums are reproducible. This is the
  * shape of MLlib's `treeAggregate` gradient step.
  *
  * Preconditions: node ids are unique, non-null and integral, and the node
  * vector fits on the driver; it passes through the driver every round.
  * Edges with a null weight, or a src that is null or not a listed node,
  * are dropped. Every caller's edges join listed nodes only.
  * [[release]] frees the persisted blocks and the id broadcast. */
private[graft] final class EdgeBlocks(nodes: DataFrame, edges: DataFrame) {
  private val sc = nodes.sparkSession.sparkContext
  private val nodeType = nodes.schema("node").dataType
  require(Seq(ByteType, ShortType, IntegerType, LongType).contains(nodeType),
    s"the graph loops need integral node ids, got $nodeType")

  val ids: Array[Long] = {
    val rows = nodes.select(col("node").cast("long")).collect()
    require(!rows.exists(_.isNullAt(0)), "node ids must be non-null")
    val a = rows.map(_.getLong(0)).sorted
    require((1 until a.length).forall(i => a(i - 1) != a(i)), "node ids must be unique")
    a
  }
  val n: Int = ids.length

  private val idsBc = sc.broadcast(ids)
  private val blocks: RDD[EdgeBlock] = {
    val bc = idsBc
    edges.select(col("src").cast("long"), col("dst").cast("long"), col("w").cast("double"))
      .rdd.mapPartitions(rows => Iterator(EdgeBlocks.pack(rows, bc.value)))
      .persist(StorageLevel.MEMORY_ONLY)
  }

  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** Σ w over every edge, per `from` node (the out-weight; an unlisted or
    * null dst still counts). */
  def outWeight(): Array[Partial] = {
    val size = n
    blocks.map(b => EdgeBlocks.outWeight(b, size)).collect()
  }

  /** Σ w·x(from) per `to` node (`reverse`: Σ w·x(to) per `from`) over
    * the edges between listed nodes. */
  def spread(x: Array[Double], reverse: Boolean): Array[Partial] = {
    val bc = sc.broadcast(x)
    try blocks.map(b => EdgeBlocks.spread(b, bc.value, reverse)).collect()
    finally bc.destroy()
  }

  /** The label-propagation vote: Σ w per (node, neighbour's label) over
    * the symmetrized edges between listed nodes; labels are node
    * indices. Keys pack the pair as `node << 32 | label`. */
  def votes(label: Array[Int]): Array[Partial] = {
    val bc = sc.broadcast(label)
    try blocks.map(b => EdgeBlocks.votes(b, bc.value)).collect()
    finally bc.destroy()
  }

  /** Per-node sums of node-keyed partials, and which nodes any partial
    * touched. */
  def merge(parts: Array[Partial]): (Array[Double], Array[Boolean]) = {
    val acc = new Array[Double](n)
    val hit = new Array[Boolean](n)
    parts.foreach { p =>
      var i = 0
      while (i < p.keys.length) {
        val k = p.keys(i).toInt
        acc(k) += p.v(i); hit(k) = true
        i += 1
      }
    }
    (acc, hit)
  }

  /** The node spine with one column per vector, in node-id order. An
    * `Array[Long]` column holds node ids and takes the input's id type,
    * like `node`; an `Array[Double]` column stays double. */
  def frame(cols: (String, Array[_])*): DataFrame = {
    val schema = StructType(StructField("node", LongType, nullable = false) +: cols.map {
      case (name, _: Array[Long]) => StructField(name, LongType, nullable = false)
      case (name, _) => StructField(name, DoubleType, nullable = false)
    })
    val rows = java.util.Arrays.asList(
      Array.tabulate(n)(i => Row.fromSeq(ids(i) +: cols.map(_._2(i)))): _*)
    val df = nodes.sparkSession.createDataFrame(rows, schema)
    if (nodeType == LongType) df
    else df.select(schema.map(f =>
      if (f.dataType == LongType) col(f.name).cast(nodeType).as(f.name) else col(f.name)): _*)
  }

  def release(): Unit = {
    blocks.unpersist(blocking = false)
    idsBc.destroy()
  }
}

private[graft] object EdgeBlocks {

  def pack(rows: Iterator[Row], ids: Array[Long]): EdgeBlock = {
    def index(r: Row, i: Int): Int =
      if (r.isNullAt(i)) -1
      else math.max(java.util.Arrays.binarySearch(ids, r.getLong(i)), -1)
    val (from, to) = (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int])
    val w = mutable.ArrayBuilder.make[Double]
    rows.foreach { r =>
      val s = index(r, 0)
      if (s >= 0 && !r.isNullAt(2)) { from += s; to += index(r, 1); w += r.getDouble(2) }
    }
    EdgeBlock(from.result(), to.result(), w.result())
  }

  /** Sums `(node, value)` pairs into one entry per node, in first-touch
    * order. */
  private final class NodeSums(n: Int) {
    private val acc = new Array[Double](n)
    private val hit = new Array[Boolean](n)
    private val order = mutable.ArrayBuilder.make[Long]
    def add(k: Int, x: Double): Unit = {
      if (!hit(k)) { hit(k) = true; order += k }
      acc(k) += x
    }
    def result: Partial = { val keys = order.result(); Partial(keys, keys.map(k => acc(k.toInt))) }
  }

  def outWeight(b: EdgeBlock, n: Int): Partial = {
    val f = new NodeSums(n)
    for (i <- b.w.indices) f.add(b.from(i), b.w(i))
    f.result
  }

  def spread(b: EdgeBlock, x: Array[Double], reverse: Boolean): Partial = {
    val f = new NodeSums(x.length)
    for (i <- b.w.indices if b.to(i) >= 0) {
      val (a, c) = if (reverse) (b.to(i), b.from(i)) else (b.from(i), b.to(i))
      f.add(c, b.w(i) * x(a))
    }
    f.result
  }

  def votes(b: EdgeBlock, label: Array[Int]): Partial = {
    val slot = mutable.LongMap.empty[Int]
    val keys = mutable.ArrayBuilder.make[Long]
    val v = mutable.ArrayBuffer.empty[Double]
    def add(k: Long, x: Double): Unit = {
      val at = slot.getOrElseUpdate(k, { keys += k; v += 0.0; v.length - 1 })
      v(at) += x
    }
    for (i <- b.w.indices if b.to(i) >= 0) {
      val (s, d) = (b.from(i), b.to(i))
      add(s.toLong << 32 | label(d), b.w(i))
      add(d.toLong << 32 | label(s), b.w(i))
    }
    Partial(keys.result(), v.toArray)
  }
}
