package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.etl.AutocalTransfos
import graft.functions.{FloatDot, LshSignatures, MinHashAgg}
import graft.plans.{AsOfJoinStrategy, PruneColumnsThroughAsOf, PushFilterThroughAsOf}
import graft.queries.AnnLsh
import graft.sources.GraftCatalog

/** The one table of graft's custom Catalyst surfaces (SURVEY §4.2):
  *
  *  - fdot(array<float>, array<float>): codegen'd fused dot product
  *  - minhash128(bigint): 128-permutation MinHash sketch aggregate
  *  - autocal_transfos(...): calibration -> transfo-rows Generator
  *  - lsh_sigs(array<float>): fused 16-table hyperplane LSH signatures
  *  - the AsOfJoin planner strategy and its two optimizer rules
  *  - the `graft_cat` catalog (install only: a catalog is session conf,
  *    not an extension point)
  *
  * Invariant: each entry reaches a session once, and only through this
  * table. Either the session is built with it
  * (`spark.sql.extensions=graft.GraftExtensions`, `withExtensions(new
  * GraftExtensions)`, or [[GraftSession.builder]]), or
  * [[GraftExtensions.install]] adds what a plain session lacks — which
  * [[SparkEntry.queries]] does before every query, so a caller's
  * plain SparkSession works. Operators never register anything.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftExtensions.rules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  private def fn(name: String, usage: String)(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in"),
      build)

  private val functions = Seq(
    fn("fdot", "fdot(a, b) - fused float-vector dot product")(
      e => FloatDot(e(0), e(1))),
    fn("minhash128", "minhash128(h) - 128-permutation MinHash sketch")(
      e => MinHashAgg(e.head)),
    fn("autocal_transfos",
      "autocal_transfos(f, pp, cdist, coeff) - explode calibration into transfos")(
      e => AutocalTransfos(e)),
    fn("lsh_sigs", "lsh_sigs(embedding) - per-table random-hyperplane LSH signatures")(
      e => LshSignatures(e.head, AnnLsh.hyperplanes, AnnLsh.bits)))

  private val rules = Seq(PushFilterThroughAsOf, PruneColumnsThroughAsOf)

  private val catalog = "spark.sql.catalog.graft_cat"

  /** Adds each entry the session's function registry, planner or
    * optimizer does not already hold, and binds `graft_cat` over
    * `<spark.sql.warehouse.dir>/graft_cat` unless the session binds it
    * already; a no-op on a second call. */
  def install(spark: SparkSession): Unit = {
    val state = spark.sessionState
    if (spark.conf.getOption(catalog).isEmpty) {
      spark.conf.set(catalog, classOf[GraftCatalog].getName)
      spark.conf.set(s"$catalog.warehouse",
        new Path(state.conf.warehousePath, "graft_cat").toString)
    }
    functions.foreach { case (id, info, build) =>
      if (!state.functionRegistry.functionExists(id))
        state.functionRegistry.registerFunction(id, info, build)
    }
    if (!state.planner.strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies :+= AsOfJoinStrategy
    val held = state.optimizer.batches.flatMap(_.rules).toSet
    rules.filterNot(held).foreach(r => spark.experimental.extraOptimizations :+= r)
  }
}
