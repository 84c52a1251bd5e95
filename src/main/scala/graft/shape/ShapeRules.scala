package graft.shape

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ontology shape rules as Catalyst expressions (north star: "validated
  * against the repo's ontology shape rules (domain/range checks
  * re-expressed as Catalyst expressions)").
  *
  * The reference enforces domain/range at schema level
  * (`property_extractor.py:356-357` skips relationships without resolvable
  * domain/range; `definition.py:164-225` checks endpoint referential
  * integrity). Here the same contract is applied to *instance* triples:
  * each predicate declares an expected subject class and object class; a
  * triple is valid iff its endpoints' `rdf:type` match. Rules and the
  * type map join in; the per-row checks are pure boolean Columns —
  * codegen'd, no UDFs.
  */
object ShapeRules {

  /** rules rows: (pred, domainClass, rangeClass); rangeClass may be null
    * for literal-valued predicates.
    */
  def rulesDf(spark: org.apache.spark.sql.SparkSession,
              rules: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    rules.toDF("pred", "domainClass", "rangeClass")
  }

  /** Tag instance triples against (typeOf, rules): one pass whose rows
    * carry both verdicts, so a caller that materializes it once can
    * write the valid triples and the issues without recomputing the
    * joins ([[split]] projects the two).
    *
    * @param triples (s, p, o)
    * @param typeOf  (node, cls) — rdf:type assertions
    * @param rules   (pred, domainClass, rangeClass)
    * @return (s, p, o, valid, category): `valid` is the shape predicate
    *         (null where a null rule class makes a comparison unknown,
    *         which [[split]] treats as not valid), `category` the issue
    *         category or null
    *
    * Plan: broadcast rules (dictionary-sized); typeOf joins are the big
    * shuffles — both are equi-joins on the node id, so they co-partition
    * with the canonicalization stage that follows.
    */
  def tag(triples: DataFrame, typeOf: DataFrame,
          rules: DataFrame): DataFrame = {
    val st = typeOf.select(col("node").as("s"), col("cls").as("sCls"))
    val ot = typeOf.select(col("node").as("o"), col("cls").as("oCls"))
    val joined = triples
      .join(broadcast(rules), triples("p") === rules("pred"), "left")
      .join(st, Seq("s"), "left")
      .join(ot, Seq("o"), "left")

    val unknownPred = col("pred").isNull
    val domainViolation = !unknownPred && (col("sCls").isNull ||
      col("sCls") =!= col("domainClass"))
    val rangeViolation = !unknownPred && col("rangeClass").isNotNull &&
      (col("oCls").isNull || col("oCls") =!= col("rangeClass"))

    joined.select(col("s"), col("p"), col("o"),
      (!unknownPred && !domainViolation && !rangeViolation).as("valid"),
      when(unknownPred, "undeclared-predicate")
        .when(domainViolation, "domain-violation")
        .when(rangeViolation, "range-violation").as("category"))
  }

  /** The two projections of a [[tag]]ged frame: (valid triples (s, p, o),
    * issue rows (category, severity, message, uri)). */
  def split(tagged: DataFrame): (DataFrame, DataFrame) = {
    val valid = tagged.filter(col("valid")).select("s", "p", "o")
    val issues = tagged
      .filter(col("category").isNotNull)
      .select(col("category"),
        when(col("category") === "undeclared-predicate", lit("warning"))
          .otherwise(lit("error")).as("severity"),
        concat(lit("triple ("), col("s"), lit(", "), col("p"), lit(", "),
          col("o"), lit(") violates shape")).as("message"),
        col("p").as("uri"))
    (valid, issues)
  }

  /** Validate instance triples: `split(tag(...))`, both sides lazy. */
  def validate(triples: DataFrame, typeOf: DataFrame,
               rules: DataFrame): (DataFrame, DataFrame) =
    split(tag(triples, typeOf, rules))
}
