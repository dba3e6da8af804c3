package graft

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}
import org.scalatest.funsuite.AnyFunSuite

/** Gates that register session state for their SQL text — temp views,
  * temp functions, session variables, cached frames — leave the
  * caller's session as they found it: everything goes through
  * [[CallScope.local]], which releases it after the collect.
  *
  * Each gate runs on its own session of the shared context, so state an
  * earlier suite left behind cannot mask a leak here.
  */
class GateHygieneSpec extends AnyFunSuite {
  private lazy val s = {
    val fresh = TestSpark.spark.newSession()
    // graft_shingles / graft_nfc are extension functions registered once
    // per session by design (TextFunctions), not per-call state
    graft.functions.TextFunctions.ensureShingles(fresh)
    fresh
  }
  private val sf = "/root/testdata/sf0.001"

  private case class State(views: Set[String], functions: Set[String],
      tableFunctions: Set[String], noVariables: Boolean, persisted: Set[Int])

  private def state(): State = State(
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet,
    s.sessionState.functionRegistry.listFunction()
      .filterNot(FunctionRegistry.builtin.functionExists).map(_.funcName).toSet,
    s.sessionState.tableFunctionRegistry.listFunction()
      .filterNot(TableFunctionRegistry.builtin.functionExists).map(_.funcName).toSet,
    s.sessionState.catalogManager.tempVariableManager.isEmpty,
    s.sparkContext.getPersistentRDDs.keySet.toSet)

  for (gate <- Seq(
      "q68_scalar_subquery", "q119_not_in_nulls", "q124_recursive_cte",
      "q28_grouping_sets", "q166_lateral_topk", "q171_sql_params",
      "q213_sql_functions", "q251_variant_explode", "q291_shingle_generator",
      "q236_listagg", "q255_percentile_within_group", "q135_exists_priority",
      "q136_below_avg_parts", "q211_winsorized_stats", "q217_mad_robust_spread"))
    test(s"$gate leaves no view, function, variable or cached frame") {
      val before = state()
      assert(SparkEntry.queries(gate)(s, sf).collect().nonEmpty)
      assert(state() === before)
    }
}
