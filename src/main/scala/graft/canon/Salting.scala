package graft.canon

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling operators for head entities (north star: "salted
  * broadcast joins and AQE skew-join handling for head entities").
  *
  * AQE's skew-join split handles most cases at runtime; these are the
  * explicit tools for the two shapes AQE can't fix:
  *  - a SHUFFLE AGGREGATION on a hot key (AQE cannot split one reducer
  *    key) → [[twoPhaseCount]];
  *  - a repeated join against a small/canonical map where one key
  *    dominates the probe side (e.g. every page mentions the same head
  *    entity) → [[saltedJoin]], which shards the hot rows across
  *    `salts` reducers by replicating the SMALL side.
  *
  * Salts are deterministic (hash of the whole row via a monotonic id is
  * NOT used — `spark_partition_id`-free, rerun-stable): the salt comes
  * from `xxhash64` of caller-chosen columns, so resumed/replayed runs
  * place rows identically (pipeline checkpoint contract).
  */
object Salting {

  /** Deterministic salt in [0, salts) from the given columns. */
  def saltCol(salts: Int, from: Column*): Column =
    pmod(xxhash64(from: _*), lit(salts.toLong)).cast("int")

  /** Equi-join `big ⋈ small` on `key`, sharding each key across `salts`
    * reducers: big rows get a deterministic salt from `saltFrom`, the
    * small side is replicated once per salt value. Result equals the
    * plain join (tested); the shuffle for any single key is spread over
    * `salts` partitions. `joinType` "left" keeps unmatched big rows
    * (each big row matches at most one salt copy, so no duplication).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int, saltFrom: Seq[String],
                 joinType: String = "inner"): DataFrame = {
    val salted = big.withColumn("__salt",
      saltCol(salts, saltFrom.map(col): _*))
    val replicated = small.withColumn("__salt",
      explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Skew decision for `df`'s `key` distribution: salt when the hottest
    * key exceeds BOTH an absolute floor (`spark.graft.skew.minHot`, below
    * which one reducer handles it fine) and `spark.graft.skew.factor` ×
    * its FAIR SHARE of one reducer (total rows / shuffle partitions) —
    * the same shape AQE's skewedPartitionFactor uses. A mean + k·σ test
    * was used before, but the max z-score among m keys is bounded by
    * √(m−1), so with k = 3 a single hot key among ≤ 10 distinct keys
    * could NEVER trip it — exactly the head-entity case this guards
    * (and a single-key distribution has z = 0 while being maximal skew).
    * The counts come from [[twoPhaseCount]] — the skew-proof counter —
    * so detection never recreates the hot reducer it is guarding against.
    * Returns the salt count (`spark.graft.skew.salts`) when skewed.
    * Delegates to [[skewSaltsMulti]] (one shared threshold formula);
    * keys compare via their string form, which is exact for the string
    * entity keys every caller uses.
    */
  def skewSalts(df: DataFrame, key: String, saltFrom: Seq[String]): Option[Int] =
    skewSaltsMulti(df, Seq(key), saltFrom)(key)

  /** [[skewSalts]] for SEVERAL key columns of the same DataFrame in ONE
    * aggregation job: endpoints explode to (endpoint, value) rows, the
    * two-phase count runs per (endpoint, value), and one final aggregate
    * yields each endpoint's hottest-key count. Callers that guard several
    * joins against the same snapshot (e.g. the s/o triple rewrite) pay
    * one detection job instead of one per key. A caller that knows `df`'s
    * row count passes it as `knownRows`: no key can occur more often, so
    * below the `minHot` floor the answer is "no salt" without any job.
    */
  def skewSaltsMulti(df: DataFrame, keys: Seq[String],
                     saltFrom: Seq[String],
                     knownRows: Option[Long] = None): Map[String, Option[Int]] = {
    val conf = df.sparkSession.conf
    def opt(k: String, d: String) = conf.getOption(k).getOrElse(d)
    val salts = opt("spark.graft.skew.salts", "8").toInt
    val minHot = opt("spark.graft.skew.minHot", "100000").toLong
    if (knownRows.exists(_ < minHot)) return keys.map(_ -> None).toMap
    val factor = opt("spark.graft.skew.factor", "2.0").toDouble
    val parts = conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(_.toIntOption).getOrElse(200)
    val kv = df.select(col("*"), explode(array(keys.map(k =>
        struct(lit(k).as("__e"), col(k).cast("string").as("__k"))): _*))
        .as("__x"))
      .select(col("__x.__e").as("__e"), col("__x.__k").as("__k"),
        saltCol(salts, saltFrom.map(col): _*).as("__salt"))
    val perEndpoint = kv
      .groupBy(col("__e"), col("__k"), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col("__e"), col("__k"))
      .agg(sum("__partial").as("count"))
      .groupBy(col("__e"))
      .agg(max(col("count")).as("mx"), sum(col("count")).as("total"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    keys.map { k =>
      k -> perEndpoint.get(k).flatMap { case (mx, total) =>
        if (mx >= minHot && mx > factor * total.toDouble / parts) Some(salts)
        else None
      }
    }.toMap
  }

  /** Left join that salts itself only when the probe side is actually
    * skewed on `key` — the production guard the north rule names for
    * head entities. Plain join (AQE-eligible, broadcast-eligible)
    * otherwise. `statsSource` lets the caller point detection at an
    * already-materialized DataFrame with the same `key` distribution
    * (e.g. the committed snapshot a chain of joins derives from), so the
    * detection aggregate never re-executes an expensive unmaterialized
    * `big` plan.
    */
  def skewAwareLeftJoin(big: DataFrame, small: DataFrame, key: String,
                        saltFrom: Seq[String],
                        statsSource: Option[DataFrame] = None): DataFrame =
    skewSalts(statsSource.getOrElse(big), key, saltFrom) match {
      case Some(n) => saltedJoin(big, small, key, n, saltFrom, "left")
      case None => big.join(small, Seq(key), "left")
    }

  /** Hot-key-proof count: partial count per (key, salt) then final sum
    * per key — two small shuffles instead of one with a single giant
    * reducer key. Equivalent to `groupBy(key).count()` (tested).
    */
  def twoPhaseCount(df: DataFrame, key: String, salts: Int,
                    saltFrom: Seq[String]): DataFrame =
    df.withColumn("__salt", saltCol(salts, saltFrom.map(col): _*))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(key))
      .agg(sum("__partial").as("count"))
}
