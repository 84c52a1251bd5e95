package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.{Gazetteer, HtmlText, MentionScan}
import graft.pages.PageGen
import graft.canon.ConnectedComponents
import graft.shape.ShapeRules

/** End-to-end knowledge-graph construction pipeline (the north rule):
  * pages → byte-identical text extraction → gazetteer mentions → candidate
  * triples → shape validation → connected-component canonicalization →
  * checkpointed materialization with per-file lineage.
  *
  * Phase structure mirrors the reference's 4-phase streaming converter
  * (`src/formats/rdf/streaming_converter.py:197-237`): each phase is a
  * stage boundary, materialized as a snapshot directory with a `_SUCCESS`
  * marker. A rerun resumes from the last completed phase (the sandbox
  * stand-in for Iceberg snapshot checkpoints — same contract: idempotent
  * writes keyed by phase, restart reads the committed snapshot). Lineage:
  * every phase records one (file, rows) row per part file its write tasks
  * produced, read from the parquet footers on the driver, so a resumed
  * run can prove input equivalence file by file. A commit costs only its
  * write: lineage needs no Spark job, and the read-back a commit returns
  * reuses the schema it just wrote instead of inferring it.
  *
  * Phase 3 commits two snapshots, `issues` and `triples`, from one
  * shape pass: [[ShapeRules.tag]] runs the candidate scans and the typeOf
  * joins once, its tagged rows are checkpointed, and both commits write
  * [[ShapeRules.split]]'s projections of that checkpoint.
  */
object KgPipeline {

  val Phases = Seq("pages", "mentions", "triples", "components", "canonical")

  final case class Result(
      triples: DataFrame,
      canonicalTriples: DataFrame,
      issues: DataFrame,
      invariantViolations: Long,
      components: DataFrame)

  /** Shape catalog for the synthetic KG. */
  val DocCls = "urn:cls:Document"
  val EntCls = "urn:cls:Entity"
  def shapeRules(spark: SparkSession): DataFrame = ShapeRules.rulesDf(spark, Seq(
    (MentionScan.MentionsPred, DocCls, EntCls),
    (MentionScan.CoOccursPred, EntCls, EntCls)))

  /** CC over the co-occurrence edges of a (pre-canonical) triple set. */
  private def componentsFromTriples(t: DataFrame): DataFrame =
    ConnectedComponents.run(
      t.filter(col("p") === MentionScan.CoOccursPred)
        .select(col("s").as("a"), col("o").as("b")))
      .select(col("node"), col("component"))

  private def phaseDir(out: String, phase: String) = s"$out/phase=$phase"
  private def done(out: String, phase: String): Boolean =
    Files.exists(Paths.get(phaseDir(out, phase), "_SUCCESS"))

  // ---- bucketed snapshot layout (round-4 verdict #6) -----------------
  // The graph snapshots are the PROBE side of every future merge:
  // components joins on `node`, canonical on `s`. Committing them
  // bucketed by those keys makes the fallback sort-merge joins (batches
  // too big for the broadcast guards) co-located on the corpus side — 0
  // exchanges over the snapshot, only the ∝-batch side shuffles to the
  // bucket layout (KgBucketedSnapshotSpec). Bucketed writes go through
  // saveAsTable with an external LOCATION (Spark's bucket metadata lives
  // in the catalog, not the files), and a resume in a fresh session
  // re-registers the table from the on-disk schema.

  private val BucketedPhases = Map("components" -> "node", "canonical" -> "s")

  private def bucketedEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.bucketedSnapshots").forall(_.toBoolean)

  private def snapshotBuckets(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.snapshotBuckets").map(_.toInt).getOrElse(8)

  /** Parse a `_BUCKETED` marker ("key:count") defensively: None for a
    * missing, torn or malformed marker. */
  private def readBucketMarker(dir: String): Option[(String, Int)] = {
    val marker = Paths.get(dir, "_BUCKETED")
    if (!Files.exists(marker)) None
    else new String(Files.readAllBytes(marker), "UTF-8").trim.split(":") match {
      case Array(k, n) if k.nonEmpty && n.forall(_.isDigit) && n.nonEmpty =>
        Some((k, n.toInt))
      case _ => None
    }
  }

  private def tableName(out: String, phase: String): String = {
    val abs = Paths.get(out).toAbsolutePath.toString
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"graft_snap_${h}_$phase"
  }

  /** Read a phase, preferring the bucketed-table view when the phase has
    * one (re-registering it if this session never wrote it — the resume
    * path). Falls back to the plain parquet dir for pre-bucketing runs
    * (their files lack bucket-id names, so claiming bucketing would be
    * wrong — detected via the catalog, which only this writer populates).
    */
  private def load(spark: SparkSession, out: String, phase: String): DataFrame =
    BucketedPhases.get(phase) match {
      case Some(key) if bucketedEnabled(spark) =>
        val name = tableName(out, phase)
        val dir = phaseDir(out, phase)
        // the marker records the layout the files were WRITTEN with —
        // registration must use it, not the current session conf (a
        // changed bucket-count conf would otherwise claim a layout the
        // file names don't have, silently mis-joining). A torn/garbled
        // marker (it is written atomically, but defend anyway) reads as
        // "not bucketed": the plain parquet read below is always correct,
        // just un-co-located — never an error on the resume path.
        val layout = readBucketMarker(dir).filter(_._1 == key)
        if (!spark.catalog.tableExists(name) && layout.isDefined) {
          val (writtenKey, writtenBuckets) = layout.get
          val ddl = spark.read.parquet(dir).schema.toDDL
          spark.sql(s"CREATE TABLE IF NOT EXISTS $name ($ddl) USING PARQUET " +
            s"CLUSTERED BY ($writtenKey) SORTED BY ($writtenKey) " +
            s"INTO $writtenBuckets BUCKETS LOCATION '$dir'")
        }
        if (spark.catalog.tableExists(name)) spark.table(name)
        else spark.read.parquet(dir)
      case _ => spark.read.parquet(phaseDir(out, phase))
    }

  /** Write `text` to `target` through a hidden temp file + atomic rename:
    * a kill leaves the old file or the new one, never a torn one. */
  private def writeAtomically(target: Path, text: String): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- lineage ---------------------------------------------------------
  // One JSON line per part file of a committed phase, {"file", "rows"},
  // with the row count taken from the file's parquet footer on the driver:
  // no Spark job, and one row per write task rather than per read split.
  // Written atomically (like `_BUCKETED` and the manifest) after the
  // snapshot; a commit first deletes the phase's old lineage, so
  // a kill between the two writes leaves none rather than a stale one.

  private def lineageDir(out: String, phase: String): Path =
    Paths.get(out, "lineage", s"phase=$phase")

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  /** A snapshot dir's data files, by Spark's rule: names starting with
    * `_` or `.` (markers, checksums) are not data. */
  private def partFiles(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def writeLineage(spark: SparkSession, out: String, phase: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // one set of read options per phase: `open(InputFile)` alone builds
    // them from a fresh Configuration, re-parsing the Hadoop XML
    // resources for every part file
    val opts = HadoopReadOptions.builder(conf).build()
    val lines = partFiles(phaseDir(out, phase)).map { f =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HPath(f.toUri), conf), opts)
      val rows = try r.getRecordCount finally r.close()
      s"""{"file":"${f.getFileName}","rows":$rows}""" + "\n"
    }
    val dir = Files.createDirectories(lineageDir(out, phase))
    writeAtomically(dir.resolve("lineage.json"), lines.mkString)
  }

  /** A committed phase's row count from its lineage; None when it has
    * none (an output written before footer lineage, or a commit killed
    * before its lineage). */
  private def lineageRows(out: String, phase: String): Option[Long] = {
    val f = lineageDir(out, phase).resolve("lineage.json")
    if (!Files.exists(f)) None
    else Some("\"rows\":(\\d+)".r
      .findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
      .map(_.group(1).toLong).sum)
  }

  /** Write a phase snapshot + its lineage and return the snapshot. Graph
    * phases commit bucketed (see above). The commit runs only the write's
    * own jobs: lineage comes from footers, and the read-back is the
    * catalog table (bucketed) or a parquet read with the schema just
    * written (plain), neither of which infers a schema.
    */
  private def commit(df: DataFrame, out: String, phase: String): DataFrame = {
    val spark = df.sparkSession
    val dir = phaseDir(out, phase)
    deleteTree(lineageDir(out, phase))
    val snapshot = BucketedPhases.get(phase) match {
      case Some(key) if bucketedEnabled(spark) =>
        val name = tableName(out, phase)
        spark.sql(s"DROP TABLE IF EXISTS $name")
        df.write.bucketBy(snapshotBuckets(spark), key).sortBy(key)
          .option("path", dir).mode("overwrite").saveAsTable(name)
        // marker: files in this dir carry bucket-id names, so a fresh
        // session may re-register the table (plain-parquet dirs must
        // not). Atomic tmp+move, like the manifest: a kill mid-write
        // must read as "no marker" (plain-read fallback), never as a
        // garbled layout.
        writeAtomically(Paths.get(dir, "_BUCKETED"),
          s"$key:${snapshotBuckets(spark)}")
        spark.table(name)
      case _ =>
        // a previous BUCKETED commit of this same dir may have left a
        // catalog entry claiming a layout the new plain files don't
        // have — drop it or a later bucketed-enabled load would read the
        // plain files through the stale bucket spec (round-5 review)
        if (BucketedPhases.contains(phase))
          spark.sql(s"DROP TABLE IF EXISTS ${tableName(out, phase)}")
        df.write.mode("overwrite").parquet(dir)
        spark.read.schema(df.schema).parquet(dir)
    }
    writeLineage(spark, out, phase)
    snapshot
  }

  // ---- delta snapshots (Iceberg MERGE INTO shape) --------------------
  // A merge output can materialize as (adds, removes, manifest→prev)
  // instead of a full corpus rewrite: the adds/removes are ∝ batch, and
  // readers resolve the chain lazily. `compactEvery` bounds chain depth
  // (the Iceberg compaction analogue): when reached, the merge commits a
  // full snapshot instead.

  private def manifestPath(out: String) =
    Paths.get(out, "merge_manifest.json")

  private def readManifest(out: String): Option[(String, Int)] =
    if (!Files.exists(manifestPath(out))) None
    else {
      val s = new String(Files.readAllBytes(manifestPath(out)), "UTF-8")
      val prev = "\"prev\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(s)
        .map(_.group(1))
      val depth = "\"depth\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toInt)
      // BOTH fields required: a torn manifest must read as uncommitted
      // (the merge then recomputes idempotently), never as depth-1
      for (p <- prev; d <- depth) yield (p, d)
    }

  /** Atomic manifest commit: temp file + rename, so a kill can never
    * leave a half-written commit point. */
  private def writeManifest(out: String, prev: String, depth: Int): Unit = {
    require(!prev.contains("\""), s"prev path not manifest-safe: $prev")
    val abs = Paths.get(prev).toAbsolutePath.toString
    writeAtomically(manifestPath(out), s"""{"prev": "$abs", "depth": $depth}""")
  }

  private def chainDepth(out: String): Int =
    readManifest(out).map(_._2).getOrElse(0)

  /** Resolve a canonical-triples snapshot: full parquet, or a delta
    * chain ((prev \ removes) ∪ adds, recursively). */
  def loadCanonical(spark: SparkSession, out: String): DataFrame =
    readManifest(out) match {
      case Some((prev, _)) =>
        chainCanonical(loadCanonical(spark, prev), load(spark, out, _))
      case None => load(spark, out, "canonical")
    }

  /** Resolve a component-map snapshot (delta removes are BY LABEL:
    * every prev row of a touched component is superseded by the adds). */
  def loadComponents(spark: SparkSession, out: String): DataFrame =
    readManifest(out) match {
      case Some((prev, _)) =>
        chainComponents(loadComponents(spark, prev), load(spark, out, _))
      case None =>
        if (done(out, "components")) load(spark, out, "components")
        // legacy layout: rebuild from the RAW candidate triples — the
        // canonical phase is useless here (its co-occur edges are
        // self-loops after rewriting, so CC over it loses every non-min
        // member; round-4 pass-3 review)
        else componentsFromTriples(load(spark, out, "triples"))
    }

  /** One delta link of a canonical chain: `prev` with the link's
    * `phase`s applied. */
  private def chainCanonical(prev: DataFrame,
      phase: String => DataFrame): DataFrame =
    prev.join(phase("canonical_removes"), Seq("s", "p", "o"), "left_anti")
      .union(phase("canonical_adds"))

  /** One delta link of a component-map chain. */
  private def chainComponents(prev: DataFrame,
      phase: String => DataFrame): DataFrame =
    prev.join(phase("components_removed_labels")
        .withColumnRenamed("label", "component"),
        Seq("component"), "left_anti")
      .select("node", "component")
      .union(phase("components_adds"))

  /** Run (or resume) the pipeline. Each completed phase is skipped on
    * rerun — the kill/resume test asserts byte-identical final output.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          gazetteer: Gazetteer = Gazetteer(Gazetteer.DefaultEntities),
          failAfterPhase: Option[String] = None): Result = {

    // Phase 1 — pages + extraction invariant ---------------------------
    val mismatch = col("extracted") =!= col("text")
    val (pages, invariantViolations) =
      if (done(outDir, "pages")) {
        val p = load(spark, outDir, "pages")
        (p, p.filter(mismatch).count())
      } else {
        val p = PageGen.pages(spark, sfDir)
        // native Catalyst expression (doGenCode static call) instead of a
        // UDF: stays inside whole-stage codegen, no catalyst<->scala row
        // conversion on the hot path
        val withExtract = p.withColumn("extracted",
          graft.extract.ExtractMainText(col("html")))
        // the invariant is counted by the write job itself (an observed
        // metric), not by a second scan of the committed snapshot
        val obs = Observation()
        val committed = commit(withExtract.observe(obs,
          count(when(mismatch, lit(1))).as("violations")), outDir, "pages")
        (committed, obs.get("violations").asInstanceOf[Long])
      }
    failpoint(failAfterPhase, "pages")

    // Phase 2 — mentions ----------------------------------------------
    val mentions =
      if (done(outDir, "mentions")) load(spark, outDir, "mentions")
      else commit(
        MentionScan.mentions(
          pages.select(col("doc_id"), col("extracted").as("text")), gazetteer),
        outDir, "mentions")
    failpoint(failAfterPhase, "mentions")

    // Phase 3 — candidate triples + shape validation -------------------
    val (triples, issues) =
      if (done(outDir, "triples"))
        (load(spark, outDir, "triples"), load(spark, outDir, "issues"))
      else {
        val typeTriples = mentions.select(
            concat(lit("urn:doc:"), col("doc_id")).as("node"), lit(DocCls).as("cls"))
          .union(mentions.select(
            concat(lit("urn:ent:"), col("entity")).as("node"), lit(EntCls).as("cls")))
          .distinct()
        val candidate = MentionScan.mentionTriples(mentions)
          .union(MentionScan.coOccurrenceTriplesFused(mentions,
            gazetteer.entityList).select("s", "p", "o"))
        // one shape pass, materialized once for both commits (see above)
        val (valid, iss) = ShapeRules.split(ShapeRules.tag(candidate,
          typeTriples, shapeRules(spark)).localCheckpoint())
        // issues first: `done` keys on the triples marker, so a crash
        // between the two writes must leave triples uncommitted
        val i = commit(iss, outDir, "issues")
        val t = commit(valid, outDir, "triples")
        (t, i)
      }
    failpoint(failAfterPhase, "triples")

    // Phase 4 — canonicalization + final graph -------------------------
    val (canonical, components) =
      if (done(outDir, "canonical")) {
        // back-compat: output dirs written before the components snapshot
        // existed have only the canonical marker — rebuild the map from
        // the committed triples snapshot instead of failing the resume
        val comps =
          if (done(outDir, "components")) load(spark, outDir, "components")
          else commit(componentsFromTriples(triples), outDir, "components")
        (load(spark, outDir, "canonical"), comps)
      } else {
        // the component map is itself a snapshot: IncrementalKg.merge
        // reconnects future batches through these star edges without
        // re-reading this run's documents (components first — `done`
        // keys on the canonical marker)
        val canonMap = commit(componentsFromTriples(triples),
          outDir, "components")
        // triples → canonical-map joins, skew-guarded: a head entity can
        // appear in a huge fraction of triples (north rule: "salted
        // broadcast joins ... for head entities"). When the canon map
        // broadcasts there is no skew; when it is too large for broadcast
        // (10^12-doc entity space) the sort-merge probe side is salted iff
        // the hottest key exceeds its fair reducer share — detection and
        // threshold in graft.canon.Salting.skewSalts. Stats run against
        // the committed triples snapshot so the o-side detection does not
        // re-execute the s-join; its lineage row count skips detection
        // outright when no key can reach the hot floor.
        val rewritten = graft.canon.Canonicalize
          .rewriteTriples(triples, canonMap, statsSource = Some(triples),
            statsRows = lineageRows(outDir, "triples"))
          .distinct()
        (commit(rewritten, outDir, "canonical"), canonMap)
      }

    Result(triples, canonical, issues, invariantViolations, components)
  }

  /** Resumable incremental ingestion: merge a NEW batch of documents into
    * a previous pipeline output. The new batch runs the standard 4-phase
    * checkpointed pipeline under `outDir/batch`; the merge phase then
    * runs the delta-shaped [[IncrementalKg.mergeParts]] against the
    * previous snapshot — never re-reading the previous run's documents.
    *
    * MATERIALIZATION is delta-shaped too (round-4): by default the merge
    * commits only `canonical_adds` / `canonical_removes` /
    * `components_adds` / `components_removed_labels` (all ∝ batch) plus
    * a manifest pointing at the previous snapshot — the Iceberg
    * MERGE INTO copy-on-write shape, where the untouched corpus is never
    * rewritten to storage. Readers resolve the chain lazily
    * ([[loadCanonical]]/[[loadComponents]]); chain depth is bounded by
    * `spark.graft.merge.compactEvery` (default 8) — at the bound the
    * merge commits a full snapshot instead (compaction), resetting the
    * chain. `spark.graft.merge.delta=false` forces full snapshots.
    *
    * Kill/resume safe: the manifest is written LAST (the commit point;
    * a kill before it leaves the merge uncommitted and it recomputes
    * idempotently — same `_SUCCESS` contract as [[run]]).
    * merge(prev, batch) ≡ a fresh full run over the union corpus,
    * including across chained merges (KgIncrementalPipelineSpec).
    */
  def merge(spark: SparkSession, prevOut: String, sfDir: String,
            outDir: String,
            gazetteer: Gazetteer = Gazetteer(Gazetteer.DefaultEntities),
            failAfterPhase: Option[String] = None): Result = {
    val batch = run(spark, sfDir, s"$outDir/batch", gazetteer, failAfterPhase)
    failpoint(failAfterPhase, "batch")
    val merged = commitMerge(spark, prevOut,
      KgGraph(batch.canonicalTriples, batch.components), outDir)
    Result(batch.triples, merged.triples, batch.issues,
      batch.invariantViolations, merged.components)
  }

  /** True when `out` is a committed FULL snapshot (no manifest chain) —
    * a compaction or first commit; nothing earlier is referenced by it.
    */
  def isFullSnapshot(out: String): Boolean =
    readManifest(out).isEmpty && done(out, "canonical")

  /** Drop any catalog tables registered for `out`'s bucketed phase
    * snapshots (retention/GC of a superseded snapshot directory must
    * also retire its table entries).
    */
  def dropSnapshotTables(spark: SparkSession, out: String): Unit =
    BucketedPhases.keys.foreach(p =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(out, p)}"))

  /** Commit a full graph snapshot (components + canonical, bucketed) at
    * `outDir` — the chain head for a first batch. Idempotent.
    */
  def commitGraph(graph: KgGraph, outDir: String): Unit =
    if (!done(outDir, "canonical")) {
      commit(graph.components, outDir, "components")
      commit(graph.triples, outDir, "canonical")
    }

  /** Merge a batch GRAPH into the snapshot at `prevOut`, committing at
    * `outDir` (delta writes + manifest, or a full compaction snapshot at
    * the chain bound) — the commit protocol shared by [[merge]] and the
    * per-micro-batch streaming ingestion
    * ([[graft.streaming.KgStream]]). Idempotent: an already-committed
    * `outDir` is left untouched, so a replayed micro-batch or resumed
    * run cannot double-apply. Returns the merged graph at `outDir`,
    * resolved like [[loadCanonical]]/[[loadComponents]] but from the
    * frames this call committed and the `prevOut` graph it read (or
    * loaded, when `outDir` was already committed).
    */
  def commitMerge(spark: SparkSession, prevOut: String, batchGraph: KgGraph,
                  outDir: String): KgGraph = {
    if (readManifest(outDir).isDefined || done(outDir, "canonical"))
      return KgGraph(loadCanonical(spark, outDir),
        loadComponents(spark, outDir))
    // back-compat chains through loadComponents: manifest chain,
    // committed snapshot, or in-memory rebuild from triples for
    // pre-components layouts (never mutates prev)
    val conf = spark.conf
    val prevComps0 = loadComponents(spark, prevOut)
    // mergeParts consumes prev triples/components in several passes;
    // over a manifest CHAIN each pass would re-execute the d-level
    // anti-join/union resolution (the multi-consumer plan-blowup
    // class). Materialize the resolved views once. On a real cluster
    // with snapshot storage this is the snapshot read itself; a
    // deployment that cannot cache the corpus disables it and pays
    // plain storage re-scans (cacheResolvedPrev=false).
    val cachePrev = conf.getOption("spark.graft.merge.cacheResolvedPrev")
      .forall(_.toBoolean) && readManifest(prevOut).isDefined
    val prevTriples0 = loadCanonical(spark, prevOut)
    val (prevTriples, prevComps) =
      if (cachePrev) (prevTriples0.localCheckpoint(),
        prevComps0.localCheckpoint())
      else (prevTriples0, prevComps0)
    val parts = IncrementalKg.mergeParts(
      KgGraph(prevTriples, prevComps), batchGraph)
    val useDelta = conf.getOption("spark.graft.merge.delta")
      .forall(_.toBoolean)
    val compactEvery = conf.getOption("spark.graft.merge.compactEvery")
      .map(_.toInt).getOrElse(8)
    def commitAll(phases: (String, DataFrame)*): Map[String, DataFrame] =
      phases.map { case (p, df) => p -> commit(df, outDir, p) }.toMap
    if (useDelta && chainDepth(prevOut) + 1 < compactEvery) {
      // delta commit: every write is ∝ batch. Manifest LAST = the
      // commit point; a kill before it leaves `done` false and the
      // merge recomputes idempotently.
      val deltas = commitAll(
        "canonical_adds" -> parts.delta,
        "canonical_removes" -> parts.rewrittenSource,
        "components_adds" -> parts.subMap,
        "components_removed_labels" -> parts.touchedPrevLabels
          .withColumnRenamed("component", "label"))
      writeManifest(outDir, prevOut, chainDepth(prevOut) + 1)
      KgGraph(chainCanonical(prevTriples0, deltas),
        chainComponents(prevComps0, deltas))
    } else {
      // compaction (or delta disabled): full snapshot, chain reset
      val full = commitAll("components" -> parts.graph.components,
        "canonical" -> parts.graph.triples)
      KgGraph(full("canonical"), full("components"))
    }
  }

  private def failpoint(failAfter: Option[String], phase: String): Unit =
    if (failAfter.contains(phase))
      throw new RuntimeException(s"failpoint after phase $phase")
}
