package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see SURVEY.md §7.
  * The actual query catalog lives in [[Queries]].
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1Agg(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.catalog.map(e => e.name -> e.query).toMap
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every catalog row carries one:
    * hash-function-specific ops (MinHash/SimHash/LSH) are gated through
    * verifiable invariants — planted-copy equalities, recall audits
    * against the exactly-oracled brute-force path — rather than raw
    * hash values (see the per-query scaladocs in [[Queries]]).
    *
    * Three of them (`d1_real_commodities`, `e16_geo`, `e16_geo_region`)
    * are generated from the reference metadata corpus
    * (`GRAFT_REFERENCE_METADATA`, default [[graft.meta.RealMeta.root]])
    * and are left out of this map while the corpus is absent. The other
    * 18 corpus-dependent rows ([[Queries.catalog]]) keep a literal SQL
    * here, but their queries still need the corpus to run.
    */
  def oracleSql: Map[String, String] =
    Queries.catalog.filter(_.sqlBuildable).map(e => e.name -> e.oracleSql).toMap
}
