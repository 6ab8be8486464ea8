package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/**
 * Interpreted-vs-codegen parity for every SQL-exposed custom expression.
 *
 * Each codegen'd expression's kernel is written once (`VectorKernels`,
 * `LayoutKernels`): `nullSafeEval` calls it and `doGenCode` emits a call
 * to it. What this spec checks is the codegen wiring around that one
 * kernel — argument order, folded literal arguments (`Folded`) and null
 * handling — plus the `CodegenFallback` text expressions: a wiring bug
 * would make results depend on whether Catalyst compiled the stage.
 *
 * Method: the same SQL projection over edge-case rows (empty vectors,
 * zero norms, mismatched lengths, NaN/Infinity components, NULLs) is
 * collected under spark.sql.codegen.factoryMode=CODEGEN_ONLY and
 * NO_CODEGEN (+ wholeStage off) and compared BIT-EXACTLY (doubles via
 * raw bits, so NaN == NaN and -0.0 != 0.0). `ConvertToLocalRelation` is
 * excluded in both runs, as Spark's own `SharedSparkSession` does: it
 * would evaluate the projection over `VALUES` with the interpreter at
 * plan time, and no generated code would run. The CODEGEN_ONLY run then
 * asserts that every graft expression of its executed plan (AQE's final
 * plan) with a `doGenCode` of its own sits inside a `WholeStageCodegenExec`
 * stage; a `CodegenFallback` expression keeps its projection out of
 * whole-stage codegen, so those have queries of their own.
 */
class ExpressionParitySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark

  /** Rows and executed plan of `sql` under one eval mode; every conf set
    * here is restored afterwards. */
  private def collectUnder(
      mode: String, wholeStage: Boolean, sql: String): (Seq[Row], SparkPlan) = {
    val conf = spark.conf
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> wholeStage.toString,
      "spark.sql.optimizer.excludedRules" -> ConvertToLocalRelation.ruleName)
    val prev = confs.map(kv => kv._1 -> conf.getOption(kv._1))
    try {
      confs.foreach(kv => conf.set(kv._1, kv._2))
      val df = spark.sql(sql)
      (df.collect().toSeq, df.queryExecution.executedPlan)
    } finally prev.foreach(kv => kv._2.fold(conf.unset(kv._1))(conf.set(kv._1, _)))
  }

  /** Bit-exact value compare: doubles by raw long bits, arrays elementwise. */
  private def sameValue(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x: Float, y: Float) =>
      java.lang.Float.floatToRawIntBits(x) == java.lang.Float.floatToRawIntBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => sameValue(u, v) }
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => sameValue(x(i), y(i)))
    case (x, y) => x == y
  }

  /** The graft expressions that plan node `p` evaluates. */
  private def graftExprs(p: SparkPlan): Seq[Expression] =
    p.expressions.flatMap(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.") => e
    })

  /** The nodes one whole-stage codegen stage compiles: down to its inputs. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _ => p +: p.children.flatMap(stageNodes)
  }

  private def assertParity(sql: String): Unit = {
    val (gen, plan) = collectUnder("CODEGEN_ONLY", wholeStage = true, sql)
    val (interp, _) = collectUnder("NO_CODEGEN", wholeStage = false, sql)
    val all = collect(plan)(p => graftExprs(p)).flatten
    val compiled = collect(plan) { case w: WholeStageCodegenExec => stageNodes(w.child) }
      .flatten.flatMap(graftExprs)
    assert(all.nonEmpty, s"no graft expression in the executed plan:\n$plan")
    val outside = all.filterNot(_.isInstanceOf[CodegenFallback]).diff(compiled)
    assert(outside.isEmpty,
      s"outside whole-stage codegen: ${outside.map(_.prettyName).mkString(", ")}\n$plan")
    assert(gen.length == interp.length, s"row counts differ for:\n$sql")
    gen.zip(interp).zipWithIndex.foreach { case ((g, i), idx) =>
      assert(sameValue(g, i), s"row $idx differs: codegen=$g interpreted=$i\nfor:\n$sql")
    }
  }

  private val edgeVectors =
    """VALUES
      |  (0, array(1.0F, 2.0F, 3.0F),        array(4.0F, -5.0F, 6.0F)),
      |  (1, array(),                        array()),
      |  (2, array(0.0F, 0.0F),              array(0.0F, 0.0F)),
      |  (3, array(1.0F, 2.0F, 3.0F, 4.0F),  array(1.0F, 2.0F)),
      |  (4, array(float('NaN'), 1.0F),      array(1.0F, float('Infinity'))),
      |  (5, array(-0.0F, 1.0E-38F),         array(0.0F, -1.0E38F)),
      |  (6, CAST(NULL AS ARRAY<FLOAT>),     array(1.0F, 2.0F)),
      |  (7, array(1.0F, 2.0F),              CAST(NULL AS ARRAY<FLOAT>))
      |  AS t(id, a, b)""".stripMargin

  /** (test name, SQL) of every parity query. */
  private val parityQueries: Seq[(String, String)] = Seq(
    "float-vector kernels: codegen == interpreted bit-exactly on edge inputs" ->
      s"""SELECT id, l2_squared(a, b), vec_dot(a, b), cosine_sim(a, b),
         |       vec_norm(a), vec_norm(b),
         |       l2_squared(array(0.5F, -2.0F), b), cosine_sim(a, array(1.0F, 0.0F, -1.0F))
         |FROM ($edgeVectors) ORDER BY id""".stripMargin,
    "binarize_sign + hamming_dist parity (packed words, sign of -0.0 and NaN)" ->
      s"""SELECT id, binarize_sign(a), binarize_sign(b),
         |       CASE WHEN a IS NOT NULL AND b IS NOT NULL
         |            THEN hamming_dist(binarize_sign(a), binarize_sign(b)) END
         |FROM ($edgeVectors) ORDER BY id""".stripMargin,
    // 2 centroids of dim 2 flat-packed; code bytes index the LUT; the last
    // column passes the codebook and signs as columns, not literals
    "argmin_l2 / pq_encode / pq_adc_distance / sign_project parity" ->
      """SELECT id,
        |  argmin_l2(v, array(0.0F,0.0F, 1.0F,1.0F)),
        |  pq_encode(v, array(0.0F,0.0F, 1.0F,1.0F), 1),
        |  pq_adc_distance(array(0.5D, 1.5D), pq_encode(v, array(0.0F,0.0F, 1.0F,1.0F), 1)),
        |  sign_project(v, array(1.0D, -1.0D, -1.0D, 1.0D)),
        |  argmin_l2(v, c), pq_encode(v, c, m), sign_project(v, s)
        |FROM VALUES
        |  (0, array(0.1F, 0.1F), array(0.0F,0.0F, 1.0F,1.0F), 1, array(1.0D, -1.0D)),
        |  (1, array(0.5F, 0.5F), array(0.0F, 1.0F, 1.0F, 0.0F), 2, array(1.0D, 1.0D)),
        |  (2, array(0.9F, 1.1F), CAST(NULL AS ARRAY<FLOAT>), 1, CAST(NULL AS ARRAY<DOUBLE>)),
        |  (3, CAST(NULL AS ARRAY<FLOAT>), array(0.0F,0.0F), 1, array(1.0D))
        |  AS t(id, v, c, m, s) ORDER BY id""".stripMargin,
    "int8 kernels and space-filling curves parity" ->
      """SELECT id,
        |  cosine_sim_i8(CAST(array(127, -128, 0) AS ARRAY<TINYINT>), v),
        |  zorder2(x, y), hilbert2(x, y)
        |FROM VALUES
        |  (0, array(1.0F, -1.0F, 0.5F), 0, 0),
        |  (1, array(0.0F, 0.0F, 0.0F), 65535, 65535),
        |  (2, CAST(NULL AS ARRAY<FLOAT>), 12345, 54321)
        |  AS t(id, v, x, y) ORDER BY id""".stripMargin,
    // a CodegenFallback expression keeps its whole projection out of
    // whole-stage codegen, so it has a query of its own
    "int8_quant_stats parity (zero vector, NULL)" ->
      """SELECT id, int8_quant_stats(v)
        |FROM VALUES
        |  (0, array(1.0F, -1.0F, 0.5F)),
        |  (1, array(0.0F, 0.0F, 0.0F)),
        |  (2, array()),
        |  (3, CAST(NULL AS ARRAY<FLOAT>))
        |  AS t(id, v) ORDER BY id""".stripMargin,
    "text expressions parity (empty string, punctuation-only, unicode)" ->
      """SELECT id, shingle_hashes(s, 2), shingle_hashes_pos(s, 2),
        |  gram_sketch(s, 2, 4), simhash64(s), md5_lower64(s), repetition_stats(s),
        |  aho_counts(s, array('the', 'o', 'a a', 'wörld', '---'))
        |FROM VALUES
        |  (0, 'the quick brown fox jumps over the lazy dog'),
        |  (1, ''),
        |  (2, '!!! ... ---'),
        |  (3, 'a a a a a a'),
        |  (4, 'héllo wörld héllo wörld'),
        |  (5, CAST(NULL AS STRING))
        |  AS t(id, s) ORDER BY id""".stripMargin)

  parityQueries.foreach { case (name, sql) => test(name)(assertParity(sql)) }

  test("pq_encode rejects m <= 0 under both eval paths") {
    for {
      m <- Seq(0, -1)
      (mode, wholeStage) <- Seq("NO_CODEGEN" -> false, "CODEGEN_ONLY" -> true)
    } {
      val e = intercept[Exception](collectUnder(mode, wholeStage,
        s"""SELECT pq_encode(v, array(0.0F, 0.0F), m)
           |FROM VALUES (array(0.1F, 0.1F), $m) AS t(v, m)""".stripMargin))
      val msgs =
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(s => s != null && s.contains(s"pq_encode: m must be positive, got $m")),
        s"$mode, m = $m: $e")
    }
  }

  test("every function GraftExtensions registers appears in a parity query") {
    val registered = spark.catalog.listFunctions().collect()
      .filter(_.className == "graft.GraftExtensions").map(_.name)
    assert(registered.nonEmpty, "no function registered by graft.GraftExtensions")
    val missing = registered.filterNot { n =>
      val call = s"\\b$n\\(".r
      parityQueries.exists(q => call.findFirstIn(q._2).isDefined)
    }
    assert(missing.isEmpty, s"no parity query calls: ${missing.mkString(", ")}")
  }
}
