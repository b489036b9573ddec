package graft

import org.apache.spark.sql.SparkSession

/**
 * The one local session every suite runs on. Suites share a JVM and
 * `getOrCreate` hands each the session the first one built, so every suite
 * builds it here, with the same settings and the graft extension
 * ([[graft.functions.GraftExtensions]]): a suite's result must not depend on
 * which suites ran before it.
 */
object TestSession {

  def spark(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    require(hasGraftExtension(s),
      "the shared test session was built without graft.functions.GraftExtensions: " +
      "some suite builds its session outside TestSession")
    s
  }

  /** Did `s` get the graft extension's rules? Rules added later through
    * `spark.experimental` do not count: the extension also injects a
    * resolution rule, which that route cannot add. */
  def hasGraftExtension(s: SparkSession): Boolean =
    s.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(graft.plans.BlockMinMaxPruneRule) &&
    s.sessionState.analyzer.extendedResolutionRules
      .exists(_.isInstanceOf[graft.plans.GraftWriteArrangeRule])
}
