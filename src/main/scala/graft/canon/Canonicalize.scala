package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one shared implementation of "rewrite triples through a canonical
  * map" (previously triplicated across KgPipeline, KgQueries and
  * IncrementalKg — and only one copy carried the skew guard).
  */
object Canonicalize {

  /** Rewrite `triples`' s/o endpoints through `canonMap(node, component)`
    * with both joins skew-guarded ([[Salting.skewAwareLeftJoin]]): a head
    * entity dominating either endpoint column is salted across reducers,
    * anything else stays a plain AQE/broadcast-eligible join. Detection
    * runs against `statsSource` (default: `triples`) — pass the
    * materialized snapshot a join chain derives from so the two detection
    * aggregates never re-execute an unmaterialized plan. `statsRows` is
    * the stats source's row count when the caller knows it; detection
    * is skipped when no key can be hot ([[Salting.skewSaltsMulti]]).
    */
  def rewriteTriples(triples: DataFrame, canonMap: DataFrame,
                     statsSource: Option[DataFrame] = None,
                     statsRows: Option[Long] = None): DataFrame = {
    val stats = statsSource.getOrElse(triples)
    // ONE detection job covers both endpoint columns
    val salts = Salting.skewSaltsMulti(stats, Seq("s", "o"), Seq("s", "p", "o"),
      knownRows = statsRows)
    def mapAs(keyCol: String, outName: String) =
      canonMap.withColumnRenamed("node", keyCol)
        .withColumnRenamed("component", outName)
    def join1(t: DataFrame, keyCol: String, outName: String) =
      salts(keyCol) match {
        case Some(n) =>
          Salting.saltedJoin(t, mapAs(keyCol, outName), keyCol, n,
            Seq("s", "p", "o"), "left")
        case None => t.join(mapAs(keyCol, outName), Seq(keyCol), "left")
      }
    join1(join1(triples, "s", "sCanon"), "o", "oCanon")
      .select(coalesce(col("sCanon"), col("s")).as("s"), col("p"),
        coalesce(col("oCanon"), col("o")).as("o"))
  }
}
