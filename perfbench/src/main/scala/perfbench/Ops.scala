package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{compaction, operators, pipeline}

/** The workloads' op lists, resolved from the engine's per-module query
  * registries. An op missing from every registry resolves to a function
  * that throws, so it is attempted and counted as failed, never skipped. */
object Ops {
  type Fn = (SparkSession, String) => DataFrame

  final case class Op(name: String, fn: Fn, oracle: Option[String])

  /** Composite-key lineitem aggregate: one group per (order, part,
    * supplier), i.e. nearly one row per group, re-aggregated into 4096
    * buckets. Its first shuffle is fact-sized and its groups are tiny —
    * the post-shuffle fragment flood that partition coalescing targets. */
  def floodAgg(s: SparkSession, dir: String): DataFrame =
    graft.Tables.t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice")).as("v"), count(lit(1)).as("n"))
      .filter(col("n") >= 1)
      .groupBy(pmod(col("l_orderkey"), lit(4096L)).as("b"))
      .agg(sum(col("v")).as("tv"), count(lit(1)).as("tn"))

  val floodAggSql: String =
    """SELECT ((l_orderkey % 4096) + 4096) % 4096 AS b, sum(v) AS tv,
      |  count(*) AS tn
      |FROM (SELECT l_orderkey, l_partkey, l_suppkey,
      |        sum(l_extendedprice) AS v, count(*) AS n
      |      FROM lineitem GROUP BY l_orderkey, l_partkey, l_suppkey
      |      HAVING count(*) >= 1)
      |GROUP BY 1""".stripMargin

  private final case class Registry(queries: Map[String, Fn], oracle: Map[String, String])

  private val registries: Seq[Registry] = Seq(
    Registry(operators.CoreQueries.queries, operators.CoreQueries.oracle),
    Registry(operators.TpchQueries.queries, operators.TpchQueries.oracle),
    Registry(operators.TpcdsShapes.queries, operators.TpcdsShapes.oracle),
    Registry(operators.Joins.queries, operators.Joins.oracle),
    Registry(operators.Aggregates.queries, operators.Aggregates.oracle),
    Registry(operators.Windows.queries, operators.Windows.oracle),
    Registry(operators.Shaping.queries, operators.Shaping.oracle),
    Registry(pipeline.Dedup.queries, pipeline.Dedup.oracle),
    Registry(pipeline.Similarity.queries, pipeline.Similarity.oracle),
    Registry(pipeline.TextAnalysis.queries, pipeline.TextAnalysis.oracle),
    Registry(compaction.CompactionQueries.queries, compaction.CompactionQueries.oracle),
    Registry(Map("flood_agg" -> (floodAgg _)), Map("flood_agg" -> floodAggSql)))

  def resolve(name: String): Op =
    registries.find(_.queries.contains(name)) match {
      case Some(r) => Op(name, r.queries(name), r.oracle.get(name))
      case None => Op(name,
        (_, _) => throw new NoSuchElementException(s"op '$name' is in no registry"),
        None)
    }

  /** Every oracled entry of the three analytic registries. */
  def analyticUniverse: Seq[String] =
    registries.take(3).flatMap(r => r.queries.keys.filter(r.oracle.contains)).sorted

  /** A query workload. The `timed` ops run in every run, in this order,
    * and alone make its latency metrics. Each run also executes and checks
    * one share of the `rest`, untimed, chosen by the seed; `shares`
    * consecutive seeds cover all of them. */
  final case class QueryWorkload(timed: Seq[String], rest: Seq[String], perRun: Int) {
    val shares: Int = math.max(1, math.ceil(rest.size.toDouble / perRun).toInt)
    def checked(seed: Long): Seq[String] = {
      val g = Math.floorMod(seed, shares.toLong).toInt
      rest.zipWithIndex.collect { case (n, i) if i % shares == g => n }
    }
  }

  /** Ten analytic entries of different plan shapes are timed; the other
    * 76 oracled entries are checked four per run. A run cannot afford all
    * 86: each costs about a second in a fresh JVM here. */
  def analytic: QueryWorkload = {
    val timed = Seq("q1_pricing", "q3_shipping", "q5_region", "q10_returned",
      "job_deep_join", "q18_bigorders", "q21_waiting", "ds_window_rollup",
      "ds_cte_reuse", "ds_scalar_battery")
    QueryWorkload(timed, analyticUniverse.filterNot(timed.contains), 4)
  }

  /** Five of the 13 headline ops after the composite-key fragment-flood
    * aggregate are timed; six more headline ops are checked one per run.
    * dedup_minhash and text_stats are left out: their DuckDB oracles take
    * about 50 s and 13 s at 10x, more than a run can spend. */
  val scale: QueryWorkload = QueryWorkload(
    Seq("flood_agg", "q1_pricing", "job_deep_join", "agg_rollup", "win_rank",
      "compact_filter"),
    Seq("q3_shipping", "q5_region", "q10_returned", "join_asof", "shape_unnest",
      "ann_topk"), 1)
}
