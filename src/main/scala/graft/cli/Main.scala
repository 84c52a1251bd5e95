package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.LocalSession
import graft.ontology._
import graft.rdf.TurtleParser
import graft.shape.Preflight
import graft.sink.{Diff, FabricParts, TtlExport}
import graft.pipeline.StatsAggregator

/** spark-submit entry points mirroring the reference CLI's in-scope
  * command map (`src/main.py:58-103`; upload/list/get/delete are the
  * network-bound Fabric REST commands, out of scope per the brief):
  *
  *   convert  <in.ttl> <out.json>     TTL → Fabric definition JSON (O1/O3)
  *   validate <in.{ttl,json,dtdl,cdm.json}>  per-format validator (2.11)
  *   export   <in.json> <out.nt>      Fabric definition → N-Triples (S6/O2)
  *   compare  <a.ttl> <b.ttl>         semantic diff (D1)
  *   test     <in.ttl>                D2 round-trip + P/R report
  *   kg       <sfDir> <outDir>        checkpointed KG pipeline (north rule)
  */
object Main {

  private def triplesOf(spark: SparkSession, path: String) = {
    InputValidation.validatePath(path, InputValidation.TtlExtensions) match {
      case Left(r) => throw new IllegalArgumentException(r.reason)
      case Right(_) => ()
    }
    val content = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    import spark.implicits._
    spark.createDataset(TurtleParser.parse(content,
      path.substring(path.lastIndexOf('.') + 1))).toDF().localCheckpoint()
  }

  def main(args: Array[String]): Unit = {
    // commands must not tear down a session they didn't create (tests and
    // embedding callers share one via getOrCreate)
    val hadSession = SparkSession.getDefaultSession.isDefined
    def stopOwned(spark: SparkSession): Unit = if (!hadSession) spark.stop()
    run(args.toList, stopOwned)
  }

  private def run(args: List[String],
                  stopOwned: SparkSession => Unit): Unit = args match {
    case "convert" :: in :: out :: Nil =>
      val spark = LocalSession()
      val t = triplesOf(spark, in)
      val name = OntologyName.extract(t)
      val cls = Extract.classesWithIds(t)
      val (entities, rels, skipped) = Extract.entityTypes(t)
      val e = entities.localCheckpoint(); val r = rels.localCheckpoint()
      val rank = Topo.ordered(cls, Extract.parentResolution(t, cls))
        .collect().map(x => x.getAs[String]("classUri") -> x.getAs[Int]("rank")).toMap
      val parts = FabricParts.assemble(e, r, rank, name)
      val stats = StatsAggregator.ledger(e, r, skipped)
      FabricParts.writeOutput(out, name, parts, stats)
      println(s"converted $in -> $out: ${stats.entityTypes} entities, " +
        s"${stats.relationshipTypes} relationships, ${stats.skippedItems} skipped")
      stopOwned(spark)

    case "validate" :: in :: Nil =>
      // format routing like the reference's validate command: CDM by the
      // .cdm.json/.model.json suffixes, DTDL by .json/.dtdl, else RDF
      // preflight
      if (in.endsWith(".cdm.json") || in.endsWith(".model.json")) {
        val manifest =
          if (in.endsWith(".manifest.cdm.json")) graft.cdm.CdmFolder.parse(in)
          else graft.cdm.CdmParser.parse(
            java.nio.file.Files.readString(java.nio.file.Paths.get(in)))
        val issues = graft.cdm.CdmValidator.validate(manifest)
        issues.foreach(i => println(s"[${i.severity}] ${i.category}: ${i.message}" +
          i.location.map(l => s" ($l)").getOrElse("")))
        println(if (graft.cdm.CdmValidator.isValid(issues))
          "valid: yes" else "valid: no")
      } else if (in.endsWith(".json") || in.endsWith(".dtdl")) {
        val ifaces = graft.dtdl.DtdlParser.parse(
          java.nio.file.Files.readString(java.nio.file.Paths.get(in)))
        val issues = graft.dtdl.DtdlValidator.validate(ifaces)
        issues.foreach(i => println(s"[${i.level}] ${i.category}: ${i.message}" +
          i.field.map(f => s" [field: $f]").getOrElse("")))
        println(if (graft.dtdl.DtdlValidator.isValid(issues))
          "valid: yes" else "valid: no")
      } else {
        val spark = LocalSession()
        val issues = Preflight.validate(triplesOf(spark, in)).localCheckpoint()
        issues.orderBy("category").collect().foreach { r =>
          println(s"[${r.getAs[String]("severity")}] ${r.getAs[String]("category")}: " +
            r.getAs[String]("message"))
        }
        println(if (Preflight.isSeamless(issues)) "seamless: yes" else "seamless: no")
        stopOwned(spark)
      }

    case "export" :: in :: out :: Nil =>
      val spark = LocalSession()
      val json = java.nio.file.Files.readString(java.nio.file.Paths.get(in))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(json)
      import scala.jdk.CollectionConverters._
      val partsNode = if (root.has("definition")) root.get("definition").get("parts")
        else root.get("parts")
      // dialect-agnostic: handles API parts ({path, payload}) and the
      // reference's simple format (direct objects with a `type` field)
      val (entities, rels) =
        FabricParts.toDataFramesMixed(spark, partsNode.elements().asScala.toSeq)
      val nt = TtlExport.toNTriples(TtlExport.toTriples(entities, rels).localCheckpoint())
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), nt)
      println(s"exported $in -> $out (${nt.linesIterator.size} triples)")
      stopOwned(spark)

    case "compare" :: a :: b :: Nil =>
      val spark = LocalSession()
      def names(path: String) = {
        val t = triplesOf(spark, path)
        val cls = Extract.classesWithIds(t).localCheckpoint()
        val assignment = Extract.propertyAssignment(t, cls).localCheckpoint()
        val (rels, _) = Extract.relationships(t, cls)
        cls.select(lit("class").as("kind"), col("name"))
          .union(assignment.select(lit("data_property").as("kind"), col("name")))
          .union(rels.select(lit("object_property").as("kind"), col("name")))
          .localCheckpoint()
      }
      Diff.compare(names(a), names(b)).orderBy("kind").collect().foreach { r =>
        println(s"${r.getString(0)}: matching=${r.getLong(1)} " +
          s"only_in_first=${r.getLong(2)} only_in_second=${r.getLong(3)} " +
          s"match=${r.getBoolean(4)}")
      }
      stopOwned(spark)

    // D2 round-trip test command (reference `test`, round_trip_test at
    // fabric_to_ttl.py:526-568): extract → export to triples → re-extract
    // → semantic diff + P/R
    case "test" :: in :: Nil =>
      val spark = LocalSession()
      val t = triplesOf(spark, in)
      val cls = Extract.classesWithIds(t).localCheckpoint()
      val assignment = Extract.propertyAssignment(t, cls).localCheckpoint()
      val (rels, _) = Extract.relationships(t, cls)
      val (entities, relsDf, _) = Extract.entityTypes(t)
      val exported = TtlExport.toTriples(
        entities.localCheckpoint(), relsDf.localCheckpoint()).localCheckpoint()
      val cls2 = Extract.classesWithIds(exported).localCheckpoint()
      val assignment2 = Extract.propertyAssignment(exported, cls2).localCheckpoint()
      val (rels2, _) = Extract.relationships(exported, cls2)
      def named(kind: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(kind).as("kind"), col("name")).distinct()
      val a = named("class", cls).union(named("data_property", assignment))
        .union(named("object_property", rels)).localCheckpoint()
      val b = named("class", cls2).union(named("data_property", assignment2))
        .union(named("object_property", rels2)).localCheckpoint()
      var allMatch = true
      Diff.compare(a, b).orderBy("kind").collect().foreach { r =>
        val m = r.getBoolean(4)
        allMatch &&= m
        println(s"${r.getString(0)}: matching=${r.getLong(1)} " +
          s"only_in_first=${r.getLong(2)} only_in_second=${r.getLong(3)} match=$m")
      }
      val inter = b.intersect(a).count().toDouble
      val precision = if (b.count() == 0) 1.0 else inter / b.count()
      val recall = if (a.count() == 0) 1.0 else inter / a.count()
      println(f"precision=$precision%.4f recall=$recall%.4f")
      println(if (allMatch) "round-trip: PASS" else "round-trip: FAIL")
      stopOwned(spark)
      if (!allMatch) sys.exit(1)

    case "kg" :: sfDir :: outDir :: Nil =>
      val spark = LocalSession()
      val res = graft.pipeline.KgPipeline.run(spark, sfDir, outDir)
      println(s"kg pipeline: triples=${res.canonicalTriples.count()} " +
        s"invariantViolations=${res.invariantViolations} " +
        s"issues=${res.issues.count()}")
      stopOwned(spark)

    // incremental ingestion: merge a new batch into a previous kg output
    case "kg-merge" :: prevOut :: sfDir :: outDir :: Nil =>
      val spark = LocalSession()
      val res = graft.pipeline.KgPipeline.merge(spark, prevOut, sfDir, outDir)
      println(s"kg merge: triples=${res.canonicalTriples.count()} " +
        s"components=${res.components.count()}")
      stopOwned(spark)

    // training-data curation funnel over the documents table (round 3)
    case "curate" :: sfDir :: Nil =>
      val spark = LocalSession()
      graft.queries.DataQueries.ddPipeline(spark, sfDir).collect().foreach { r =>
        println(s"${r.getString(1)}: docs=${r.getLong(2)} tokens=${r.getLong(3)}")
      }
      stopOwned(spark)

    // ANN search over the embeddings table: top-k neighbors of a vec_id
    case "search" :: sfDir :: vecId :: k :: Nil =>
      val spark = LocalSession()
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.ann.Similarity.bruteForceTopK(emb,
          col("vec_id") === vecId.toLong, k.toInt)
        .collect().foreach { r =>
          println(f"rank=${r.getInt(1)} vec=${r.getLong(2)} cos=${r.getDouble(3)}%.6f")
        }
      stopOwned(spark)

    // streaming incremental KG over a directory of page-batch parquet
    // files: each file becomes a micro-batch delta merge (manifest chain
    // + HEAD commit log; re-running with the same checkpoint resumes)
    case "kg-stream" :: srcDir :: outDir :: ckptDir :: Nil =>
      val spark = LocalSession()
      val schema = spark.read.parquet(srcDir).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val q = graft.streaming.KgStream.start(stream,
        graft.extract.Gazetteer(graft.extract.Gazetteer.DefaultEntities),
        outDir, ckptDir)
      q.processAllAvailable(); q.stop()
      val n = graft.streaming.KgStream.canonical(spark, outDir).count()
      println(s"kg stream: head=${graft.streaming.KgStream.readHead(outDir)
        .getOrElse("none")} triples=$n")
      stopOwned(spark)

    // line-level dedup report over the documents table (round 5)
    case "lines" :: sfDir :: Nil =>
      val spark = LocalSession()
      val s = graft.queries.DataQueries.ddLines(spark, sfDir)
        .agg(org.apache.spark.sql.functions.sum("n_kept"),
          org.apache.spark.sql.functions.sum("n_dropped")).head
      println(s"line dedup: kept=${s.getLong(0)} dropped=${s.getLong(1)}")
      stopOwned(spark)

    // perceptual image near-dup pairs over the media table (round 5)
    case "phash" :: sfDir :: maxDist :: Nil =>
      // the 16-bit-chunk pigeonhole guarantees recall only for hamming
      // <= 3 (4 chunks); a larger bound would silently under-report
      if (maxDist.toInt > 3) {
        System.err.println(
          s"phash: maxDist ${maxDist} exceeds the pigeonhole recall bound (3)")
        sys.exit(2)
      }
      val spark = LocalSession()
      import org.apache.spark.sql.functions.col
      val hashes = graft.multimodal.Multimodal.perceptualHashes(
        graft.multimodal.Multimodal.mediaTable(spark, sfDir))
      val pairs = graft.dedup.Dedup.simHashPairsFromSims(
        hashes.select(col("doc_id"), col("dhash").as("sim")),
        maxDist = maxDist.toInt)
      println(s"phash near-dup pairs (hamming<=$maxDist): ${pairs.count()}")
      stopOwned(spark)

    // entity salience: top-10 by integer PageRank (round 5)
    case "pagerank" :: sfDir :: Nil =>
      val spark = LocalSession()
      graft.queries.KgQueries.kgPagerank(spark, sfDir)
        .orderBy(org.apache.spark.sql.functions.col("score").desc,
          org.apache.spark.sql.functions.col("node"))
        .limit(10).collect()
        .foreach(r => println(f"${r.getLong(1)}%14d  ${r.getString(0)}"))
      stopOwned(spark)

    // audio near-dup pairs via the energy-delta fingerprint (round 5)
    case "audio-fp" :: sfDir :: Nil =>
      val spark = LocalSession()
      import org.apache.spark.sql.functions.col
      val fp = graft.multimodal.Multimodal.audioFingerprint(
        graft.multimodal.Multimodal.mediaTable(spark, sfDir))
      val pairs = graft.dedup.Dedup.simHashPairsFromSims(
        fp.select(col("doc_id"), col("fp").as("sim")), maxDist = 0)
      println(s"audio exact-fingerprint dup pairs: ${pairs.count()}")
      stopOwned(spark)

    // SPARQL-subset query over the KG triple table (round 5): the query
    // text is read from a file so shells don't mangle IRIs
    case "sparql" :: sfDir :: queryFile :: Nil =>
      val spark = LocalSession()
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(queryFile)), "UTF-8")
      val pages = graft.pages.PageGen.pages(spark, sfDir)
      val m = graft.extract.MentionScan.mentions(pages,
        graft.extract.Gazetteer(graft.extract.Gazetteer.DefaultEntities))
      val triples = graft.extract.MentionScan.mentionTriples(m)
        .union(graft.extract.MentionScan.coOccurrenceTriples(m)
          .select("s", "p", "o"))
      graft.kgql.Sparql.query(triples, text).show(50, false)
      stopOwned(spark)

    // train a BPE tokenizer on the documents table, print the merges
    case "bpe" :: sfDir :: nMerges :: Nil =>
      val spark = LocalSession()
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val merges = graft.text.Bpe.train(docs, nMerges.toInt)
      merges.zipWithIndex.foreach { case ((a, b), i) =>
        println(f"$i%4d  $a%-12s + $b%s") }
      val stats = graft.text.Bpe.tokenCounts(docs, merges)
        .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).head.getLong(0)
      println(s"corpus BPE tokens with ${merges.length} merges: $stats")
      stopOwned(spark)

    // exact-substring duplicated-span report (round 5)
    case "spans" :: sfDir :: Nil =>
      val spark = LocalSession()
      import org.apache.spark.sql.functions._
      val r = graft.dedup.Dedup.duplicateSpans(
        spark.read.parquet(s"$sfDir/documents.parquet"))
      r.agg(count(lit(1)).as("docs_hit"), sum("n_spans").as("spans"),
          sum("dup_tokens").as("dup_tokens")).show()
      stopOwned(spark)

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage: convert <in.ttl> <out.json> | validate <in.{ttl,json,dtdl,cdm.json}> |
           |       export <in.json> <out.nt> | compare <a.ttl> <b.ttl> |
           |       test <in.ttl> | kg <sfDir> <outDir> |
           |       kg-merge <prevOut> <sfDir> <outDir> |
           |       kg-stream <srcDir> <outDir> <ckptDir> |
           |       curate <sfDir> | lines <sfDir> | phash <sfDir> <maxDist> |
           |       pagerank <sfDir> | audio-fp <sfDir> |
           |       sparql <sfDir> <query.rq> | bpe <sfDir> <numMerges> |
           |       spans <sfDir> | search <sfDir> <vecId> <k>""".stripMargin)
      sys.exit(2)
  }
}
