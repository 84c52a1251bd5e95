package graft.shape

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** `split(tag(...))` against the two-projection validation it replaces:
  * the same valid triples and the same issue rows, as multisets, on
  * random triples with undeclared predicates, rules whose domain or
  * range class is null, and untyped or doubly-typed endpoints. The
  * pipeline's own inputs produce no issues, so this law is what checks
  * the issue side. */
class ShapeRulesSpec extends SparkSpec {
  import spark.implicits._

  /** The former `validate`: two lazy projections of one joined frame. */
  private def twoPass(triples: DataFrame, typeOf: DataFrame,
      rules: DataFrame): (DataFrame, DataFrame) = {
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
    val valid = joined
      .filter(!unknownPred && !domainViolation && !rangeViolation)
      .select("s", "p", "o")
    val issues = joined
      .withColumn("category",
        when(unknownPred, "undeclared-predicate")
          .when(domainViolation, "domain-violation")
          .when(rangeViolation, "range-violation"))
      .filter(col("category").isNotNull)
      .select(col("category"),
        when(col("category") === "undeclared-predicate", lit("warning"))
          .otherwise(lit("error")).as("severity"),
        concat(lit("triple ("), col("s"), lit(", "), col("p"), lit(", "),
          col("o"), lit(") violates shape")).as("message"),
        col("p").as("uri"))
    (valid, issues)
  }

  private val nodes = (0 until 6).map(i => s"n$i")
  private val classes = Seq("c0", "c1")
  private def opt(g: Gen[String]): Gen[String] =
    Gen.frequency(3 -> g, 1 -> Gen.const(null: String))

  // p0..p2 may be declared; p3 never is
  private val caseGen = for {
    triples <- Gen.listOfN(24, for {
      s <- Gen.oneOf(nodes); p <- Gen.oneOf("p0", "p1", "p2", "p3")
      o <- Gen.oneOf(nodes)
    } yield (s, p, o))
    rules <- Gen.someOf(Seq("p0", "p1", "p2")).flatMap(ps =>
      Gen.sequence[List[(String, String, String)], (String, String, String)](
        ps.map(p => for {
          d <- opt(Gen.oneOf(classes)); r <- opt(Gen.oneOf(classes))
        } yield (p, d, r))))
    typeOf <- Gen.listOfN(7, for {
      n <- Gen.oneOf(nodes); c <- Gen.oneOf(classes)
    } yield (n, c)).map(_.distinct)
  } yield (triples, rules, typeOf)

  private def rows(df: DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("\u0000"))

  test("split(tag(...)) equals the two-projection validation") {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(12).withWorkers(1),
      Prop.forAll(caseGen) { case (ts, rs, ty) =>
        val t = ts.toDF("s", "p", "o")
        val r = rs.toDF("pred", "domainClass", "rangeClass")
        val typeOf = ty.toDF("node", "cls")
        val (v0, i0) = twoPass(t, typeOf, r)
        val (v1, i1) = ShapeRules.split(
          ShapeRules.tag(t, typeOf, r).localCheckpoint())
        rows(v1) == rows(v0) && rows(i1) == rows(i0)
      })
    assert(res.passed, res.status.toString)
  }

  test("tag keeps an unknown verdict null, and split treats it as not valid") {
    // p0's domain class is null: a typed subject compares unknown
    val t = Seq(("n0", "p0", "n1")).toDF("s", "p", "o")
    val r = Seq(("p0", null: String, null: String))
      .toDF("pred", "domainClass", "rangeClass")
    val typeOf = Seq(("n0", "c0")).toDF("node", "cls")
    val tagged = ShapeRules.tag(t, typeOf, r).collect()
    assert(tagged.length == 1 && tagged(0).isNullAt(3) && tagged(0).isNullAt(4))
    val (valid, issues) = ShapeRules.split(ShapeRules.tag(t, typeOf, r))
    assert(valid.count() == 0 && issues.count() == 0)
  }
}
