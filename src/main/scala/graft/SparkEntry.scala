package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see SURVEY.md §7.
  *
  * `queries` is the union of the registry modules in [[modules]]
  * (every query DuckDB-oracle-checked; COVERAGE.md lists the modules
  * and their key counts):
  *  - [[graft.serve.Queries]] — the reference's pipeline/dashboard
  *    surface (SURVEY §2) over the deterministic silver derivation;
  *  - one `graft.operators` module per query family, named by domain
  *    and owning the key prefixes it declares: TPC-H and data quality
  *    (`q<N>_`, `q_`), joins (`j_`), windows (`w_`), events (`ev_`),
  *    analytics (`a_`), column functions (`c_`), SQL shapes (`sql_`,
  *    `set_`, `r5_`), ops audits (`o_`), text curation (`t_`,
  *    `pipeline_`), dedup (`dedup_`), similarity (`sim_`, `r_`),
  *    embeddings (`e_`), graphs (`g_`) and multimodal (`mm_`).
  * Every key in `queries` has an `oracleSql` twin that hash-matches
  * DuckDB (ANN/sketch/simhash oracles replay the algorithm in SQL
  * rather than assuming recall).
  *
  * The module maps merge by `++`, so a duplicate key would SILENTLY
  * shadow an earlier module's registered query (a drafted round-10
  * `ev_stickiness` briefly did exactly that to the weekly one);
  * RegistrySpec pins that the per-module key sets are pairwise
  * disjoint, that the query and oracle key sets coincide, that each
  * key carries its module's prefix and that all 458 are registered.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    serve.Queries.a1DailySentiment(spark, "/root/testdata/sf0.001")

  /** The registry, in merge order: the single list that both maps and
    * RegistrySpec's pins iterate. A module left out of it loses all its
    * queries, so RegistrySpec also pins the total key count. */
  private[graft] lazy val modules: Seq[QueryModule] = Seq(
    serve.Queries, operators.TpchQueries, operators.JoinQueries,
    operators.WindowQueries, operators.EventQueries,
    operators.AnalyticsQueries, operators.ColumnQueries,
    operators.SqlQueries, operators.OpsQueries, operators.TextQueries,
    operators.DedupQueries, operators.SimilarityQueries,
    operators.EmbeddingQueries, operators.GraphQueries,
    operators.MultimodalQueries)

  private[graft] def queryModules: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    modules.map(_.queries)

  private[graft] def oracleModules: Seq[Map[String, String]] =
    modules.map(_.oracles)

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryModules.reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracleModules.reduce(_ ++ _)
}
