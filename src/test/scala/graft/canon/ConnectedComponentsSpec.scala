package graft.canon

import graft.SparkSpec

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def bruteForce(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.Map[String, String]()
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val label = members.min
      members.map(_ -> label)
    }
  }

  private def runCc(edges: Seq[(String, String)]): Map[String, String] =
    ConnectedComponents.run(edges.toDF("a", "b"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("local union-find fast path equals the distributed star iteration") {
    // seeded random graph with chains, triangles and isolated self-loops
    val rnd = new scala.util.Random(11)
    val edges = (0 until 500).map { _ =>
      (f"v${rnd.nextInt(120)}%03d", f"v${rnd.nextInt(120)}%03d")
    } ++ Seq(("iso1", "iso1"), ("iso2", "iso2"))
    val local = runCc(edges) // default threshold → driver union-find
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    val dist =
      try runCc(edges) // forced star iteration
      finally spark.conf.unset("spark.graft.cc.localThreshold")
    assert(local == dist)
    assert(local == bruteForce(edges))
  }

  test("numeric edge ids keep their type and numeric min labels on both paths") {
    // round-3 advice: the local path used to cast to string, so {9,10}
    // would label "10" (string min) instead of 9 — and the path taken
    // depended on data size. Both paths must now agree with numeric min.
    val edges = Seq((10, 9), (10, 11), (2, 1), (100, 2)).toDF("a", "b")
    val local = ConnectedComponents.run(edges)
    assert(local.schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val localMap = local.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    val distMap =
      try ConnectedComponents.run(edges)
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      finally spark.conf.unset("spark.graft.cc.localThreshold")
    assert(localMap == distMap)
    assert(localMap == Map(9 -> 9, 10 -> 9, 11 -> 9, 1 -> 1, 2 -> 1, 100 -> 1))
  }

  test("supplementary-plane strings label identically on both paths") {
    // U+10000 (surrogate pair) vs U+FFFD: Java compareTo ranks the
    // surrogate lower; code-point/UTF-8 order (Spark min) ranks U+FFFD
    // lower — both paths must agree on the Spark ordering
    val hi = new String(Character.toChars(0x10000))
    val lo = "�"
    val edges = Seq((hi, lo)).toDF("a", "b")
    val local = runCc(Seq((hi, lo)))
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    val dist =
      try ConnectedComponents.run(edges)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      finally spark.conf.unset("spark.graft.cc.localThreshold")
    assert(local == dist)
    assert(local(hi) == lo && local(lo) == lo)
  }

  test("unsupported edge-id types fall through to the distributed path") {
    // dates have no local-path ordering wired; result must still be the
    // distributed star iteration's (no crash, no silent cast)
    val edges = Seq(("2024-01-02", "2024-01-01"), ("2024-01-02", "2024-01-03"))
      .toDF("a", "b").selectExpr("cast(a as date) a", "cast(b as date) b")
    val out = ConnectedComponents.run(edges).collect()
      .map(r => (r.getDate(0).toString, r.getDate(1).toString)).toMap
    assert(out == Map("2024-01-01" -> "2024-01-01",
      "2024-01-02" -> "2024-01-01", "2024-01-03" -> "2024-01-01"))
  }

  test("two components with chain and triangle") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "x" -> "y", "y" -> "z")
    assert(runCc(edges) == bruteForce(edges))
  }

  test("long chain converges in O(log n) rounds (n=200)") {
    val edges = (0 until 200).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
    val cc = runCc(edges)
    assert(cc.values.toSet == Set("n000"))
    assert(cc.size == 201)
  }

  test("star with skewed hub") {
    val edges = (1 to 100).map(i => ("hub", f"leaf$i%03d"))
    val cc = runCc(edges)
    assert(cc.values.toSet == Set("hub"))
  }

  test("random graphs match union-find brute force") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val edges = Seq.fill(n)((s"v${rnd.nextInt(40)}", s"v${rnd.nextInt(40)}"))
        .filter(e => e._1 != e._2)
      assert(runCc(edges) == bruteForce(edges), s"trial $trial")
    }
  }

  test("self-loops and duplicate edges are harmless") {
    val edges = Seq("a" -> "a", "a" -> "b", "b" -> "a", "a" -> "b")
    val cc = runCc(edges)
    assert(cc == Map("a" -> "a", "b" -> "a"))
  }
}

/** Skew salting operators (north-star "salted joins ... for head entities"). */
class SaltingSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  // 20k rows, 90% on one head key — the shape AQE aggregation can't split
  private def skewed = spark.range(20000)
    .select(
      when(col("id") % 10 === 0, concat(lit("e"), col("id") % 50))
        .otherwise(lit("HEAD")).as("entity"),
      col("id"))
    .localCheckpoint()

  test("saltedJoin equals the plain join on a skewed probe side") {
    val dim = Seq(("HEAD", "Head Entity"), ("e0", "E Zero"), ("e10", "E Ten"))
      .toDF("entity", "label")
    val plain = skewed.join(dim, Seq("entity"))
      .groupBy("entity", "label").count()
    val salted = Salting.saltedJoin(skewed, dim, "entity",
        salts = 8, saltFrom = Seq("id"))
      .groupBy("entity", "label").count()
    assert(salted.collect().toSet.map((r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getString(1), r.getLong(2))) ==
      plain.collect().toSet.map((r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getString(1), r.getLong(2))))
    // and the hot key really is sharded: HEAD rows carry many distinct
    // salts, i.e. many distinct shuffle keys (AQE may still coalesce tiny
    // test-scale partitions physically — the key-space split is what
    // matters at scale)
    val saltsUsed = skewed.withColumn("__salt",
        Salting.saltCol(8, col("id")))
      .filter(col("entity") === "HEAD")
      .agg(countDistinct("__salt")).head.getLong(0)
    assert(saltsUsed == 8, s"HEAD used only $saltsUsed salts")
  }

  test("twoPhaseCount equals groupBy().count() incl. the head key") {
    val expected = skewed.groupBy("entity").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val got = Salting.twoPhaseCount(skewed, "entity",
        salts = 16, saltFrom = Seq("id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expected)
    assert(got("HEAD") == 18000L)
  }

  test("skewSaltsMulti: a known row count below minHot decides 'no salt' " +
       "without a job") {
    val df = skewed
    val (salts, jobs) = org.apache.spark.JobCount(spark.sparkContext)(
      Salting.skewSaltsMulti(df, Seq("entity"), Seq("id"), knownRows = Some(20000L)))
    assert(salts == Map("entity" -> None))
    assert(jobs == 0, s"$jobs jobs")
  }

  test("skewSaltsMulti: the same input with minHot lowered still salts") {
    val df = skewed
    spark.conf.set("spark.graft.skew.minHot", "1000")
    try {
      val (salts, jobs) = org.apache.spark.JobCount(spark.sparkContext)(
        Salting.skewSaltsMulti(df, Seq("entity"), Seq("id"), knownRows = Some(20000L)))
      assert(salts == Map("entity" -> Some(8)))
      assert(jobs > 0)
    } finally spark.conf.unset("spark.graft.skew.minHot")
  }
}
