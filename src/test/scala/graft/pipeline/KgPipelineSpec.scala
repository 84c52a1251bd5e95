package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.util.Comparator

class KgPipelineSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def freshDir(): String = {
    val d = Files.createTempDirectory("kgpipe").toString
    d
  }

  private def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
  }

  /** A documents-only sf dir holding one doc_id parity slice of sfDir. */
  private def halfDir(parity: Int): String = {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 2 === parity)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** A phase's lineage names exactly the part files Spark reads for its
    * snapshot, and its rows sum to the snapshot's row count. */
  private def assertLineage(out: String, phase: String): Unit = {
    val lin = spark.read.schema("file STRING, rows LONG")
      .json(s"$out/lineage/phase=$phase").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val snap = spark.read.parquet(s"$out/phase=$phase")
    val files = snap.inputFiles
      .map(f => Paths.get(new java.net.URI(f)).getFileName.toString).sorted
    assert(files.nonEmpty, s"$phase has no part files")
    assert(lin.map(_._1).sorted.sameElements(files), s"lineage files of $phase")
    assert(lin.map(_._2).sum == snap.count(), s"lineage rows of $phase")
  }

  test("end-to-end: byte-identical invariant holds, triples non-empty, lineage written") {
    val (a, b) = (halfDir(0), halfDir(1))
    val out = freshDir(); val outM = freshDir()
    try {
      val res = KgPipeline.run(spark, a, out)
      assert(res.invariantViolations == 0)
      assert(res.triples.count() > 0)
      assert(res.canonicalTriples.count() > 0)
      val merged = KgPipeline.merge(spark, out, b, outM)
      assert(merged.invariantViolations == 0)
      // per-file lineage of every phase: the plain ones, the bucketed
      // graph snapshots, the merge's batch run and its delta commit
      for (dir <- Seq(out, s"$outM/batch"); phase <- KgPipeline.Phases :+ "issues")
        assertLineage(dir, phase)
      for (phase <- Seq("canonical_adds", "canonical_removes",
          "components_adds", "components_removed_labels"))
        assertLineage(outM, phase)
    } finally Seq(a, b, out, outM).foreach(rm)
  }

  test("a fresh run + merge runs a pinned number of Spark jobs") {
    val (a, b) = (halfDir(0), halfDir(1))
    val out = freshDir(); val outM = freshDir()
    try {
      val (_, cost) = org.apache.spark.Meter(spark.sparkContext) {
        KgPipeline.run(spark, a, out)
        KgPipeline.merge(spark, out, b, outM)
      }
      // a commit runs only its write's jobs: a lineage re-read (3 jobs per
      // commit), a schema inference on a plain read-back, a separate
      // invariant count, a skew aggregation below the hot-key floor or a
      // merge that re-loads the delta snapshot it just committed each
      // raises this count
      assert(cost.jobs == 60, "jobs of one run + merge")
    } finally Seq(a, b, out, outM).foreach(rm)
  }

  test("kill/resume: restart after failpoint completes without recomputing done phases") {
    val out = freshDir()
    try {
      intercept[RuntimeException] {
        KgPipeline.run(spark, sfDir, out, failAfterPhase = Some("mentions"))
      }
      assert(Files.exists(Paths.get(s"$out/phase=mentions/_SUCCESS")))
      assert(!Files.exists(Paths.get(s"$out/phase=canonical/_SUCCESS")))
      val mentionsMtime = Files.getLastModifiedTime(
        Paths.get(s"$out/phase=mentions/_SUCCESS"))

      // resume: completes remaining phases, does not rewrite finished ones
      val res = KgPipeline.run(spark, sfDir, out)
      assert(Files.exists(Paths.get(s"$out/phase=canonical/_SUCCESS")))
      assert(Files.getLastModifiedTime(
        Paths.get(s"$out/phase=mentions/_SUCCESS")) == mentionsMtime,
        "mentions phase must not be recomputed on resume")

      // resumed output identical to a fresh uninterrupted run
      val fresh = freshDir()
      try {
        val res2 = KgPipeline.run(spark, sfDir, fresh)
        val a = res.canonicalTriples.collect().map(_.toString).sorted
        val b = res2.canonicalTriples.collect().map(_.toString).sorted
        assert(a.sameElements(b), "resumed run differs from fresh run")
      } finally rm(fresh)
    } finally rm(out)
  }

  test("skewed head entity: salted join equals plain join and bounds the " +
       "hot key's reducer input") {
    import org.apache.spark.sql.functions._
    import graft.canon.Salting
    // synthetic head-entity skew: one entity is the subject of 90% of rows
    val n = 2000L
    val big = spark.range(n).select(
      when(col("id") % 10 =!= 0, lit("urn:ent:HEAD"))
        .otherwise(concat(lit("urn:ent:e"), col("id"))).as("s"),
      lit("urn:graft:mentions").as("p"),
      concat(lit("urn:doc:"), col("id")).as("o"))
      .localCheckpoint()
    import spark.implicits._
    val small = Seq(("urn:ent:HEAD", "urn:canon:1")).toDF("s", "sCanon")

    spark.conf.set("spark.graft.skew.minHot", "10")
    try {
      val salts = Salting.skewSalts(big, "s", Seq("s", "p", "o"))
      assert(salts.nonEmpty, "90%-hot key must trip the skew detector")
      // identical output to the plain left join (incl. unmatched rows)
      val salted = Salting.skewAwareLeftJoin(big, small, "s", Seq("s", "p", "o"))
      val plain = big.join(small, Seq("s"), "left")
      assert(salted.collect().toSet == plain.collect().toSet)
      // bounded max-task input: the hot key's rows spread across salts, so
      // the largest (key, salt) reducer group is a fraction of the
      // unsalted hot key's single group
      val perKeySalt = big
        .withColumn("__salt", Salting.saltCol(salts.get,
          col("s"), col("p"), col("o")))
        .groupBy("s", "__salt").count()
        .agg(max("count")).head.getLong(0)
      val perKey = big.groupBy("s").count().agg(max("count")).head.getLong(0)
      assert(perKeySalt <= perKey / 2,
        s"salted reducer input $perKeySalt not bounded vs unsalted $perKey")
      // a uniform distribution must NOT trip the detector
      val uniform = spark.range(n)
        .select(concat(lit("k"), col("id") % 50).as("s"),
          lit("p").as("p"), col("id").cast("string").as("o"))
      assert(Salting.skewSalts(uniform, "s", Seq("s", "p", "o")).isEmpty)
    } finally spark.conf.unset("spark.graft.skew.minHot")
  }

  test("pipeline canonical phase through the forced-salted path is " +
       "identical to the default path") {
    val outA = freshDir(); val outB = freshDir()
    try {
      val resA = KgPipeline.run(spark, sfDir, outA)
      // force the skew guard on: floor 1, fair-share factor negative so
      // any key trips it
      spark.conf.set("spark.graft.skew.minHot", "1")
      spark.conf.set("spark.graft.skew.factor", "-1000")
      val resB =
        try KgPipeline.run(spark, sfDir, outB)
        finally {
          spark.conf.unset("spark.graft.skew.minHot")
          spark.conf.unset("spark.graft.skew.factor")
        }
      val a = resA.canonicalTriples.collect().map(_.toString).sorted
      val b = resB.canonicalTriples.collect().map(_.toString).sorted
      assert(a.sameElements(b), "salted canonicalization changed the output")
    } finally { rm(outA); rm(outB) }
  }

  test("canonicalization merges co-mentioned entities into one component") {
    val out = freshDir()
    try {
      val res = KgPipeline.run(spark, sfDir, out)
      import org.apache.spark.sql.functions._
      // all canonical mention objects collapse to component representatives
      val objs = res.canonicalTriples
        .filter(col("p") === graft.extract.MentionScan.MentionsPred)
        .select("o").distinct().collect().map(_.getString(0)).toSet
      val rawEnts = graft.extract.Gazetteer.DefaultEntities.map("urn:ent:" + _).toSet
      assert(objs.subsetOf(rawEnts))
      assert(objs.size < rawEnts.size, "expected coreferent entities to merge")
    } finally rm(out)
  }
}
