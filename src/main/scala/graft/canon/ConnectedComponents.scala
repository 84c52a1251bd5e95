package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-star / small-star connected components (north star: "iterative
  * DataFrame self-joins (large-star/small-star) to merge coreferent
  * entities").
  *
  * Algorithm: Kiveris et al., "Connected Components in MapReduce and
  * Beyond" (SOCC'14) — alternate two star operations until fixpoint:
  *
  *  - large-star: for every node u, connect every strictly-larger
  *    neighbor v > u to m(u) = min({u} ∪ N(u));
  *  - small-star: for every node u, connect u and every neighbor v ≤ u
  *    to the minimum of that set.
  *
  * Converges in O(log n) rounds (vs O(diameter) for naive label
  * propagation), which is what makes it viable on web-scale co-mention
  * graphs with long chains. Each round is two shuffles (groupBy u); the
  * driver loop `localCheckpoint`s per round to cut lineage, and
  * convergence is detected by comparing a deterministic edge-set digest
  * (count + xor/sum of hashes) instead of a full subtract — one cheap
  * aggregate per round. Skewed head entities (huge N(u)) are handled by
  * AQE skew-join splitting plus the algorithm's own property that
  * large-star moves high-degree work onto the min label.
  *
  * Node ids are strings ordered lexicographically; the component label is
  * the lexicographic min member, making output deterministic under any
  * partitioning.
  */
object ConnectedComponents {

  /** edges(a, b) undirected → (node, component). Includes isolated nodes
    * present in `edges` as their own component.
    */
  def run(edges: DataFrame, maxIter: Int = 25): DataFrame =
    runWithRounds(edges, maxIter)._1

  /** [[run]] plus the number of large-star/small-star rounds to fixpoint —
    * the O(log n) convergence evidence the scale-stress bench records.
    */
  def runWithRounds(edges: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    val spark = edges.sparkSession
    // materialize the input once: it feeds BOTH the iteration seed and the
    // final node list — an unmaterialized DF would re-execute its whole
    // upstream (e.g. the mention scan) a second time at the label join
    // (its checkpoint job also counts it, for the path choice below)
    val (e0, edgeRows) = Relax.countedCheckpoint(edges)
    // adaptive path choice: a dictionary-scale graph (the co-mention
    // graph over a bounded gazetteer stays dictionary-sized at any
    // corpus scale) pays ~5 rounds of distributed job latency for work a
    // driver union-find finishes in microseconds; open-vocabulary entity
    // graphs above the threshold take the O(log n) star iteration.
    // Identical labeling (component = lexicographic min member) — path
    // equality is ScalaTested and every CC oracle covers whichever path
    // the threshold selects.
    val localThreshold = spark.conf.getOption("spark.graft.cc.localThreshold")
      .map(_.toLong).getOrElse(100000L)
    if (edgeRows <= localThreshold)
      localUnionFind(e0).foreach(df => return (df, 0))

    def canon(df: DataFrame): DataFrame =
      df.filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val m = und.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      und.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient edges towards the larger endpoint: (u = max, v = min)
      val down = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val m = down.groupBy("u").agg(min(col("v")).as("m"))
      down.join(m, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
    }

    var current = canon(e0).localCheckpoint()
    var digest = digestOf(current)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val next = canon(smallStar(largeStar(current))).localCheckpoint()
      val nextDigest = digestOf(next)
      converged = nextDigest == digest
      current = next
      digest = nextDigest
      iter += 1
    }

    // Fixpoint is a star forest normalized (a=root/min, b=child): each
    // child node appears as `b` exactly once; roots and isolated nodes
    // label themselves. min() guards against a non-converged maxIter exit.
    val nodes = e0.select(col("a").as("node"))
      .union(e0.select(col("b").as("node"))).distinct()
    val labels = current.groupBy(col("b").as("node")).agg(min(col("a")).as("comp"))
    (nodes
      .join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("component")),
      iter)
  }

  /** Driver-side union-find with min-as-root unions and path compression:
    * the root invariant makes every find return the component's minimum
    * member UNDER THE INPUT TYPE'S OWN ORDERING (round-3 advice: the
    * former unconditional string cast silently changed both schema and
    * labels for numeric edge ids at the threshold). String / int / long
    * ids keep their native type and Spark-`min`-compatible ordering;
    * any other type returns None and takes the distributed path.
    */
  private def localUnionFind(e0: DataFrame): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = e0.sparkSession
    val dt = e0.schema.fields(0).dataType
    // Strings compare by CODE POINT (≡ UTF-8 binary order, what Spark's
    // min uses) — Java compareTo orders by UTF-16 unit, which ranks
    // supplementary-plane characters below U+E000..U+FFFF and would let
    // labels depend on which side of the size threshold the data lands
    // (round-4 review). Shared impl: [[graft.model.CodePoint]].
    val ord: Ordering[Any] = dt match {
      case StringType =>
        ((x: Any, y: Any) => graft.model.CodePoint.compare(
          x.asInstanceOf[String], y.asInstanceOf[String])): Ordering[Any]
      case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
      case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case _ => return None
    }
    val pairs = e0.collect().map(r => (r.get(0), r.get(1)))
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nx = parent(c); parent(c) = r; c = nx
      }
      r
    }
    for ((a, b) <- pairs) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val rows = parent.keys.toSeq.sorted(ord).map(n => Row(n, find(n)))
    val schema = StructType(Seq(
      StructField("node", dt), StructField("component", dt)))
    Some(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema))
  }

  private def digestOf(e: DataFrame): (Long, Long) = {
    // bit_xor: order-independent, overflow-free (ANSI mode) set digest
    val r = e.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
